"""Output checks for the batch workloads: each query's collected result is
compared with its DuckDB oracle (``kinbaku_spark.queries.ORACLES``) run on
the same parquet files.

The table list and the normalization come from ``scripts/check_queries.py``,
the repository's own oracle-parity helper. Expected results come from the
oracle only, never from the engine.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
from check_queries import TABLES, _normalize  # noqa: E402


class Oracle:
    """DuckDB connection with the base tables of one data directory."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def mismatch(self, sql: str, got) -> str | None:
        """None when ``got`` (a pandas frame) equals the oracle's answer,
        else a one-line description of the first difference."""
        want = self.con.execute(sql).fetchdf()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        for a, b in zip(_normalize(got), _normalize(want)):
            if a != b:
                return f"row {a!r} != {b!r}"
        return None

    def close(self) -> None:
        self.con.close()
