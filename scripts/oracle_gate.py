"""Driver-style correctness gate, runnable at ANY scale factor.

Replicates the external driver's comparison (every ``queries()`` entry vs
its ``oracle_sql()`` DuckDB mirror: row count, column names, dtype kinds,
exact values) against an arbitrary testdata dir:

    SPARK_GRAFT_CPUS=4 python scripts/oracle_gate.py <testdata dir, e.g. sf0.1>

The session is the one the package ships (``session.build_session``, cores
from $SPARK_GRAFT_CPUS), so the gate checks the shipped configuration.

The driver gates sf0.01; running this at sf0.1 is the 10x-scale
regression net that caught the round(double, n) cross-engine boundary
flips in trend_window/text_quality in r5 (invisible at sf0.01 row
counts, certain at 100 TB).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from newsraag_crawler_spark.session import build_session
    from newsraag_crawler_spark.sources.tables import TPCH_TABLES

    spark = build_session("oracle_gate")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            if pdf[c].dtype == object or str(pdf[c].dtype).startswith("datetime"):
                pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(
            by=list(pdf.columns), na_position="first"
        ).reset_index(drop=True)

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    failed = []
    for name in qs:
        t0 = time.time()
        try:
            got = norm(qs[name](spark, sf_dir).toPandas())
            want = norm(con.sql(osql[name]).df())
            assert list(got.columns) == list(want.columns), (
                f"cols {list(got.columns)} vs {list(want.columns)}"
            )
            assert len(got) == len(want), f"rows {len(got)} vs {len(want)}"
            for c in got.columns:
                gk, wk = got[c].dtype.kind, want[c].dtype.kind
                gk = "i" if gk == "u" else gk
                wk = "i" if wk == "u" else wk
                assert gk == wk, f"dtype kind {c}: {got[c].dtype} vs {want[c].dtype}"
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=True
            )
            print(f"PASS {name} rows={len(got)} {time.time() - t0:.1f}s", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue
            failed.append(name)
            print(f"FAIL {name}: {str(e)[:300]}", flush=True)
    print("FAILED:", failed)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
