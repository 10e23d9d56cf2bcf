"""Hashing kernel: IDs, content hashes, portable 64-bit hashes, Hamming.

Reference rules reproduced bit-for-bit (SURVEY.md §2.9 C4-C5):
- article/image id  = md5("{source_name}:{title}:{url}")
  (`/root/reference/crawler/templates/rss_template.py:266-269`)
- content hash      = sha256 of whitespace-normalized lower(title+content)
  (`/root/reference/crawler/models/article_models.py:27-33`)

Engine-internal hashes:
- Spark's built-in ``hash()`` IS murmur3_32 — used for partition/salt keys
  and Bloom-shard routing (north_rule asks for murmur3).
- ``xxhash64()`` for 64-bit partition bucketing.
- ``portable_hash64`` — an md5-derived 60-bit hash with IDENTICAL values in
  Spark SQL, DuckDB SQL, and Python, so dedup/minhash queries are
  oracle-checkable across engines (murmur3 implementations differ between
  engines, md5 does not).

All three portable implementations are property-tested against each other.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- reference-compatible IDs ------------------------------------------------


def article_id(source_name: Column | str, title: Column | str, url: Column | str) -> Column:
    """md5("{source}:{title}:{url}") — bit-compatible with reference ids."""
    return F.md5(F.concat_ws(":", _c(source_name), _c(title), _c(url)))


def content_hash(title: Column | str, content: Column | str) -> Column:
    """sha256 of ws-normalized lower(title + " " + content)."""
    joined = F.concat_ws(" ", _c(title), _c(content))
    normalized = F.trim(F.regexp_replace(F.lower(joined), "\\s+", " "))
    return F.sha2(normalized, 256)


def article_id_py(source_name: str, title: str, url: str) -> str:
    return hashlib.md5(f"{source_name}:{title}:{url}".encode()).hexdigest()


def content_hash_py(title: str, content: str) -> str:
    import re

    normalized = re.sub(r"\s+", " ", f"{title} {content}".lower()).strip()
    return hashlib.sha256(normalized.encode()).hexdigest()


# -- portable 60-bit hash (Spark == DuckDB == Python) ------------------------


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """First 15 hex chars of md5 as a BIGINT (60 bits, non-negative)."""
    src = F.concat(F.lit(salt), _c(col)) if salt else _c(col)
    return F.conv(F.substring(F.md5(src), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB SQL mirror of the unsalted portable_hash64."""
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


def portable_hash64_py(s: str, salt: str = "") -> int:
    return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit hashes (phash / simhash)."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))
