"""Loaders for the driver-provided parquet tables (TESTDATA.md)."""

from __future__ import annotations

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

