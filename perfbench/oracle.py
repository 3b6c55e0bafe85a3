"""Output check against DuckDB, with the comparison rules of tools/check.py.

Row count, column names, per-column type alignment and the
order-insensitive value hash all come from ``tools/check.py`` by import,
so the benchmark and the correctness harness agree on what "equal"
means.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

from bpaotu_spark.catalog import TABLE_NAMES


def _harness():
    # tools/check.py puts a fixed checkout path at the front of sys.path
    # on import; undo that so this process keeps importing from its own
    # checkout.
    saved = list(sys.path)
    import tools.check as harness

    sys.path[:] = saved
    return harness


class Oracle:
    def __init__(self, sf_dir: str) -> None:
        self._h = _harness()
        self._con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{t}.parquet").replace("'", "''")
            self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def close(self) -> None:
        self._con.close()

    def _expected(self, sql: str):
        tbl = self._con.execute(sql).fetch_arrow_table()
        rows = list(zip(*(c.to_pylist() for c in tbl.columns))) if tbl.num_columns else []
        return tbl, rows

    def check(self, cols: list[str], rows: list[tuple], sql: str, dtypes=None) -> str | None:
        """None when ``rows`` equal the oracle's result, else why not.

        ``dtypes`` (Spark's ``df.dtypes``) adds the type alignment check;
        rows parsed back from an export file carry no types.
        """
        h = self._h
        tbl, orows = self._expected(sql)
        if sorted(cols) != sorted(tbl.column_names):
            return f"columns {sorted(cols)} vs {sorted(tbl.column_names)}"
        if len(rows) != len(orows):
            return f"rows {len(rows)} vs {len(orows)}"
        if dtypes is not None:
            bad = h.type_mismatches(cols, dtypes, tbl.column_names, tbl.schema)
            bad += h.decimal_outputs(dtypes, tbl.schema) + h.nonscalar_outputs(dtypes)
            if bad:
                return f"types {bad}"
        if h.table_hash(rows, cols) != h.table_hash(orows, tbl.column_names):
            return "value hash mismatch"
        return None


def read_export(kind: str, path: str) -> tuple[list[str], list[tuple]]:
    """Parse an export file back into (columns, rows) for the check."""
    if kind == "io.geojson":
        with open(path) as f:
            doc = json.load(f)
        rows = [
            (
                *feat["geometry"]["coordinates"],
                feat["properties"]["n_orders"],
                feat["properties"]["n_samples"],
                feat["properties"]["total_price"],
            )
            for feat in doc["features"]
        ]
        return ["bin_x", "bin_y", "n_orders", "n_samples", "total_price"], rows
    raise KeyError(kind)


def export_bytes(path: str) -> int:
    return os.path.getsize(path)
