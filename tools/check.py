"""Local correctness harness mimicking the driver's DuckDB-oracle compare.

Runs every ``queries()`` entry at a scale factor and compares against
``oracle_sql()`` via DuckDB: row count, sorted column names, per-column
TYPE alignment, and an order-insensitive value hash. Usage::

    python tools/check.py [sf_dir] [query ...]
    python tools/check.py [sf_dir] --window   # the driver's 50-row prefix

The type check exists because ``str()`` normalization is blind to the
exact skew that burned rounds 2-3: DuckDB ``sum(BIGINT)`` returns
HUGEINT (Arrow ``decimal128(38,0)``) which stringifies identically to
Spark's int64 but hashes differently in the driver. Any decimal or
int-width mismatch between the oracle's Arrow schema and the Spark
DataFrame schema is a FAIL here even when the value hash matches.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
WINDOW = "--window" in sys.argv[2:]
ONLY = {a for a in sys.argv[2:] if not a.startswith("--")}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_spark_type(dt: str) -> str:
    """Spark simpleString → canonical token comparable with Arrow's."""
    dt = dt.strip().lower()
    aliases = {
        "long": "int64", "bigint": "int64", "int": "int32",
        "integer": "int32", "smallint": "int16", "tinyint": "int8",
        "double": "float64", "float": "float32", "boolean": "bool",
        "string": "string", "date": "date", "binary": "binary",
    }
    if dt in aliases:
        return aliases[dt]
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("decimal"):
        return dt.replace(" ", "")
    if dt.startswith("array<") and dt.endswith(">"):
        return f"array<{canon_spark_type(dt[6:-1])}>"
    return dt


def canon_arrow_type(t) -> str:
    """pyarrow DataType → the same canonical tokens."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return str(t)  # int8..int64 / uint...
    if pa.types.is_floating(t):
        return "float64" if pa.types.is_float64(t) else "float32"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{canon_arrow_type(t.value_type)}>"
    return str(t)


def type_mismatches(scols, sdtypes, ocols, oschema):
    """Columns (shared by name) whose canonical types differ."""
    sd = {c: canon_spark_type(t) for c, t in sdtypes}
    od = {f.name: canon_arrow_type(f.type) for f in oschema}
    return [
        (c, sd[c], od[c]) for c in sorted(set(sd) & set(od)) if sd[c] != od[c]
    ]


def decimal_outputs(sdtypes, oschema=None):
    """Output columns carrying a decimal/HUGEINT type — ALWAYS a FAIL.

    Round-5 lesson (kmeans_embeddings): a decimal(38,0) output column can
    hash-match locally yet hash-MISMATCH under the driver, because the
    driver normalizes decimal128 differently from int64. The convention
    is structural: every 128-bit intermediate must be cast back to
    BIGINT (or floored into BIGINT-safe units) AT THE OUTPUT BOUNDARY,
    on both the Spark and the oracle side. This guard makes the whole
    failure class a local FAIL even when values agree.
    """
    bad = [
        (c, t) for c, t in sdtypes
        if canon_spark_type(t).startswith("decimal")
    ]
    if oschema is not None:
        bad += [
            (f.name, str(f.type)) for f in oschema
            if canon_arrow_type(f.type).startswith("decimal")
        ]
    return bad


def nonscalar_outputs(sdtypes):
    """Output columns carrying array/map/struct types — ALWAYS a FAIL.

    Round-6 lesson (multimodal_features): the driver's canonicalizer
    sorts results via pandas sort_values, which raises
    ``TypeError: unhashable type: 'list'`` on a list-typed column —
    the row goes red even when the VALUES hash-match a typed harness.
    Registered entries must emit scalar columns only; keep vector
    shapes on the unregistered helper (e.g. extract_features) and
    explode/digest them at the registered boundary.
    """
    return [
        (c, t) for c, t in sdtypes
        if t.strip().lower().startswith(("array", "map", "struct"))
    ]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.4f}"
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    import __spark_entry__ as e
    from bpaotu_spark.session import get_session

    spark = get_session("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    if WINDOW:
        # exactly what the driver verifies this round: the first 50
        # entries of queries() in exposure order
        window_keys = list(qs)[:50]
        qs = {k: qs[k] for k in window_keys}
    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            dec = decimal_outputs(sdf.dtypes)
            if dec:
                print(f"FAIL {name}: decimal128 output columns {dec}")
                n_fail += 1
                continue
            ns = nonscalar_outputs(sdf.dtypes)
            if ns:
                print(f"FAIL {name}: non-scalar output columns {ns}")
                n_fail += 1
                continue
            print(f"ROWS-ONLY {name}: rows={len(srows)} cols={scols} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            tbl = con.execute(oracles[name]).fetch_arrow_table()
            ocols = tbl.column_names
            ocells = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            orows = list(zip(*ocells)) if tbl.num_columns else []
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {str(ex)[:300]}")
            n_fail += 1
            continue
        rows_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        bad_types = type_mismatches(scols, sdf.dtypes, ocols, tbl.schema)
        dec = decimal_outputs(sdf.dtypes, tbl.schema)
        if dec:
            bad_types = bad_types + [(c, t, "decimal128-forbidden") for c, t in dec]
        ns = nonscalar_outputs(sdf.dtypes)
        if ns:
            bad_types = bad_types + [(c, t, "non-scalar-forbidden") for c, t in ns]
        types_ok = schema_ok and not bad_types
        hash_ok = schema_ok and table_hash(srows, scols) == table_hash(orows, ocols)
        ok = rows_ok and schema_ok and types_ok and hash_ok
        n_pass += ok
        n_fail += not ok
        mark = "PASS" if ok else "FAIL"
        print(
            f"{mark} {name}: rows {len(srows)}/{len(orows)} "
            f"schema={'ok' if schema_ok else f'{sorted(scols)} vs {sorted(ocols)}'} "
            f"types={'ok' if types_ok else bad_types} "
            f"hash={'ok' if hash_ok else 'MISMATCH'} ({time.time()-t0:.1f}s)"
        )
        if not hash_ok and schema_ok and rows_ok:
            order_s = sorted(range(len(scols)), key=lambda i: scols[i])
            order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
            ss = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
            oo = sorted("|".join(norm_cell(r[i]) for i in order_o) for r in orows)
            diffs = [(a, b) for a, b in zip(ss, oo) if a != b][:3]
            for a, b in diffs:
                print(f"    spark : {a[:200]}")
                print(f"    oracle: {b[:200]}")
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
