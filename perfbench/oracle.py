"""Expected outputs from the program's DuckDB oracle SQL, and the check of a
written result against them (the comparison ``scripts/check_oracle.py``
makes: row count, column names, order-insensitive values)."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq

from .datagen import TABLES


def expected_frames(queries, data_dir: str) -> dict[str, pd.DataFrame]:
    """Evaluate ``oracle_sql()[q]`` for each query over the generated tables."""
    import duckdb

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {q: con.execute(sql[q]).df() for q in queries}
    finally:
        con.close()


def check_written(query: str, out_dir: str, expected: pd.DataFrame) -> list[str]:
    """Problems found comparing the parquet result in ``out_dir`` with the
    oracle's frame; empty when they match."""
    from check_oracle import compare  # scripts/ is on sys.path (run.py)

    return compare(query, pq.read_table(out_dir).to_pandas(), expected)
