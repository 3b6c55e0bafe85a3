"""Tuned SparkSession factory.

One place to own the scale knobs so a cluster deployment overrides a
single module:

- AQE on (runtime coalescing of small post-shuffle partitions, skew-join
  splitting for the pairwise/blocked operators).
- ``spark.sql.shuffle.partitions`` sized from env (local[32] default 32;
  on a 1000-executor cluster this is set to ~2-3x total cores).
- Arrow enabled for the few Pandas-UDF paths (multimodal decode).
- Session timezone pinned UTC so timestamp → epoch conversions agree
  with the DuckDB oracle and with any other engine reading the same
  parquet.

It also owns :func:`local_frame`, the one way bounded driver-held rows
enter Spark.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str
) -> DataFrame:
    """Bounded driver-held ``rows`` as a DataFrame of schema ``ddl``.

    The rows go in as one Arrow table, which Spark plans as a
    ``LocalTableScan``: executing it runs at most one job and keeps
    the row order. ``createDataFrame`` on a Python list plans a
    ``Scan ExistingRDD`` instead, and a trailing ``orderBy`` adds a
    range-partition exchange: executing a 10-row result took 3 jobs
    and 0.27-0.71 s that way against 1 job and 0.034 s here (local[4]).
    Needs no Arrow conf, so it works on any session.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=schema)


def _local_dir() -> str:
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        return shm
    except OSError:
        return "/tmp"


def get_session(
    app_name: str = "bpaotu_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                str(cpus) if str(cpus).isdigit() else "32",
            )
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-mode tuning: hint-free fact⋈fact joins (q3/q5 style)
        # still resolve to broadcast at bench scale because the filtered
        # side is tens of MB. A cluster deployment drops this back to
        # the 10 MB default — the code carries no fact-side hints.
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The events table carries TIMESTAMP(NANOS) parquet timestamps, which
        # Spark has no native type for; read them as epoch-nanos BIGINT and
        # convert in the catalog (truncation to micros matches other readers).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 100 TB note: files.maxPartitionBytes keeps scan tasks ~128 MB so a
        # 1000-executor cluster gets even input splits; local default is fine
        # but we pin it so behaviour is identical everywhere.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Shuffle/spill files default to /tmp, which sits on the host's
        # virtual disk here; /proc/pressure/io shows that disk fully
        # stalling for tens of seconds at a time (measured: random
        # queries freezing in ~30s multiples while CPU and GC stayed
        # idle). RAM-backed local dirs take the disk out of the shuffle
        # path entirely; on a real cluster this maps to NVMe-local or
        # disaggregated shuffle storage.
        .config("spark.local.dir", _local_dir())
        # Every distinct query compiles fresh generated classes; a long
        # session (bench runs 24) can exhaust the default JIT code cache,
        # after which new plans execute interpreted (measured 20-60x
        # slowdowns on hash-heavy aggregations late in the run).
        # (r15 note: -XX:-DontCompileHugeMethods was measured here and
        # REJECTED — it wins x3.6 on an isolated 64-term double-dot
        # projection but floods C2 with huge-method compiles across a
        # many-stage suite; the same session's pure-CPU and shuffle
        # calibration probes degraded 25-30% with the flag on.)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
