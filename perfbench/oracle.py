"""Cross-check of a query's Spark result against its DuckDB oracle on the
generated tables, with the repository's own canonicalization
(``tools/verify_oracles.py``: exact float compare, order-insensitive)."""

from __future__ import annotations

import duckdb

from tools.verify_oracles import canon


class Oracle:
    def __init__(self, sf_dir: str):
        from porcupine_spark.tables import TABLES, table_path

        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )

    def mismatch(self, df, sql: str) -> str | None:
        """None when ``df`` equals the oracle's result, else why not."""
        got = df.toPandas()
        want = self._con.sql(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        if canon(got, 0.0) != canon(want, 0.0):
            return "values differ"
        return None

    def close(self) -> None:
        self._con.close()
