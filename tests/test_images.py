"""Codec round-trips, PSNR comparator, phash determinism."""

from __future__ import annotations

import numpy as np

from newsraag_crawler_spark.functions import images


def test_png_roundtrip_exact():
    img = images.synth_image(12345, 64, 48)
    out = images.png_decode(images.png_encode(img))
    assert np.array_equal(img, out)


def test_lossy_roundtrip_psnr_over_40():
    img = images.synth_image(999, 96, 96)
    out = images.lossy_decode(images.lossy_encode(img))
    p = images.psnr(img, out)
    assert p >= 40.0, p
    assert not np.array_equal(img, out)  # genuinely lossy


def test_synth_image_deterministic():
    a = images.synth_image(7, 40, 30)
    b = images.synth_image(7, 40, 30)
    c = images.synth_image(8, 40, 30)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


def test_phash_stable_under_lossy():
    img = images.synth_image(4242, 128, 128)
    lossy = images.lossy_decode(images.lossy_encode(img))
    h1, h2 = images.phash64(img), images.phash64(lossy)
    # 6-bit quantization barely moves block means → hamming distance tiny
    assert bin(h1 ^ h2).count("1") <= 4


def test_psnr_udf(spark):
    img = images.synth_image(1, 32, 32)
    png = images.png_encode(img)
    lsy = images.lossy_encode(img)
    df = spark.createDataFrame(
        [(bytearray(png), bytearray(png), "png"), (bytearray(lsy), bytearray(lsy), "jpeg")],
        ["a", "b", "fmt"],
    )
    rows = df.select(images.psnr_udf()("a", "b", "fmt").alias("p")).collect()
    assert all(r.p == float("inf") for r in rows)


def test_image_stats_udf(spark):
    img = images.synth_image(5, 50, 40)
    df = spark.createDataFrame([(bytearray(images.png_encode(img)), "png")], ["bytes", "fmt"])
    r = df.select(images.image_stats_udf()("bytes", "fmt").alias("s")).select("s.*").first()
    assert (r.w, r.h) == (50, 40)
    assert r.phash == images.phash64(img)


def test_resize_nn_shapes_and_determinism():
    from newsraag_crawler_spark.functions.images import resize_nn

    img = images.synth_image(11, 100, 60)
    small = resize_nn(img, 32, 32)
    assert small.shape == (32, 32, 3)
    assert np.array_equal(small, resize_nn(img, 32, 32))


def test_resize_images_udf(spark):
    from newsraag_crawler_spark.functions.images import resize_images_udf

    img = images.synth_image(3, 90, 70)
    df = spark.createDataFrame(
        [(bytearray(images.png_encode(img)), "png"),
         (bytearray(images.lossy_encode(img)), "jpeg")],
        ["bytes", "fmt"],
    )
    out = df.select(resize_images_udf(16, 16)("bytes", "fmt").alias("small"), "fmt").collect()
    for r in out:
        dec = images.decode_image(bytes(r.small), r.fmt)
        assert dec.shape == (16, 16, 3)


def test_image_stats_query_matches_python_golden(spark):
    """Golden-row oracle for the rows-only driver query `image_stats`: every
    Spark-produced row must equal the pure-Python fetch_payload_py + decode
    pipeline (VERDICT r1 item 4 — rows-only ops get a non-SQL oracle)."""
    from newsraag_crawler_spark.queries import q_image_stats
    from newsraag_crawler_spark.sources.synthetic import fetch_payload_py

    rows = q_image_stats(spark, "/root/testdata/sf0.001", full=True).collect()
    assert len(rows) == 50
    from newsraag_crawler_spark.functions.images import decode_image, phash64

    for r in rows:
        # pixels/fmt/phash depend only on (seed, url) — source only shapes
        # the caption, which this query doesn't emit
        payload = fetch_payload_py(r.url, "x", 42)
        img = decode_image(payload["bytes"], payload["fmt"])
        assert (r.w, r.h) == (img.shape[1], img.shape[0])
        assert r.fmt == payload["fmt"]
        assert r.fetch_phash == payload["phash"]
        # the stats UDF recomputes phash from the DECODED payload — must
        # agree with the fetch kernel's closed-form round-trip value
        assert r.phash == payload["phash"] == phash64(img)
        assert abs(r.mean_lum - round(float(img.astype(np.float64).mean()), 3)) < 1e-9


def test_image_resize_query_matches_python_golden(spark):
    from newsraag_crawler_spark.functions.images import decode_image, resize_nn
    from newsraag_crawler_spark.queries import q_image_resize
    from newsraag_crawler_spark.sources.synthetic import fetch_payload_py

    from newsraag_crawler_spark.functions.images import phash64

    rows = q_image_resize(spark, "/root/testdata/sf0.001", full=True).collect()
    assert len(rows) == 30
    for r in rows:
        assert (r.w, r.h) == (16, 16)
        payload = fetch_payload_py(r.url, "x", 42)
        small = resize_nn(decode_image(payload["bytes"], payload["fmt"]), 16, 16)
        assert small.shape == (16, 16, 3)
        if payload["fmt"] == "png":  # lossless: resized pixel content exact
            assert r.phash == phash64(small)
            assert abs(r.mean_lum - round(float(small.astype(np.float64).mean()), 3)) < 1e-9
