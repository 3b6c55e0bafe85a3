"""Sources and sinks.

The reference stores in PostgreSQL and exports CSV/BIOM (public paths
``bpaotu/otu/importer.py``, ``bpaotu/otu/biom.py``); here the durable
store is parquet and the export shapes are writer functions. JDBC is
gated behind a clear error (no driver jar in this image) with the same
function signature a cluster deployment would use.

Scale notes: partitioned parquet writes are the 100 TB layout —
``partition_by`` low-cardinality context columns so partition pruning
serves the contextual filters; CSV/JSON are export formats, coalesced
only when the caller asks for few files (a single-file export of a big
result would bottleneck one task).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.session import local_frame


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(header=True, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Parquet sink; partition columns drive pruning for later readers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source (PostgreSQL in the reference). No driver jar ships in
    this image, so fail fast with the real error instead of a Py4J
    trace — and point at :func:`read_dbapi`, the jar-free fallback."""
    try:
        return spark.read.format("jdbc").options(url=url, dbtable=table, **options).load()
    except Exception as exc:  # pragma: no cover - depends on jar presence
        raise RuntimeError(
            "JDBC read failed - a JDBC driver jar must be on the Spark "
            "classpath (spark.jars); none ships in this image. For "
            "jar-free environments use read_dbapi (DB-API -> Arrow -> "
            "DataFrame)"
        ) from exc


def read_dbapi(
    spark: SparkSession,
    connect,
    query: str,
    batch_size: int = 65536,
) -> DataFrame:
    """Database source through Python DB-API 2.0 — the jar-free
    resolution of the reference's PostgreSQL surface (public
    ``bpaotu/otu/models.py`` reads the same tables through
    SQLAlchemy/psycopg2; here any DB-API driver works, and the pytest
    drives it with stdlib sqlite3).

    ``connect`` is a zero-argument callable returning a DB-API
    connection (so credentials live with the caller, and the
    connection is opened/closed inside this function). Rows are
    fetched in ``batch_size`` chunks and accumulated as Arrow record
    batches (one Python->Arrow conversion per chunk, never per row),
    then handed to Spark through ``createDataFrame`` on the combined
    Arrow table.

    Scale note: a DB-API cursor is a single driver-side stream — this
    is the INGEST path (bounded dimension/metadata tables, the shape
    the reference actually stores in Postgres), not a 100 TB scan
    path. For parallel bulk extraction put the JDBC jar on the
    classpath and use :func:`read_jdbc` with partitioning options;
    the durable lake layout stays parquet either way.
    """
    import pyarrow as pa

    conn = connect()
    try:
        cur = conn.cursor()
        cur.execute(query)
        cols = [d[0] for d in cur.description]
        batches: list[pa.RecordBatch] = []
        schema = None
        while True:
            rows = cur.fetchmany(batch_size)
            if not rows:
                break
            arrays = [
                pa.array([r[i] for r in rows]) for i in range(len(cols))
            ]
            batch = pa.record_batch(arrays, names=cols)
            if schema is None:
                schema = batch.schema
            else:
                batch = batch.cast(schema)  # later chunks match chunk 1
            batches.append(batch)
        if not batches:
            # a zero-row DB-API result carries no type information —
            # surface the columns as empty nullable strings
            return local_frame(
                spark,
                [],
                ", ".join(f"`{c.replace('`', '``')}` string" for c in cols),
            )
        tbl = pa.Table.from_batches(batches, schema=schema)
    finally:
        conn.close()
    # the Arrow table goes in as is: a pandas round trip would turn a
    # nullable integer column into double
    return spark.createDataFrame(tbl)


def write_dbapi(
    df: DataFrame,
    connect,
    table: str,
    batch_size: int = 10000,
) -> int:
    """Database sink through DB-API 2.0 executemany — the return path
    of :func:`read_dbapi` (the reference serves query results back out
    of Postgres). Streams ``toLocalIterator`` so only one partition is
    ever resident on the driver; parameterized qmark placeholders, no
    SQL built from values. Returns the number of rows written.

    Same scale contract as read_dbapi: an export/ingest path for
    bounded results, not a distributed bulk writer."""
    cols = df.columns
    placeholders = ", ".join(["?"] * len(cols))
    collist = ", ".join(cols)
    sql = f"INSERT INTO {table} ({collist}) VALUES ({placeholders})"
    conn = connect()
    n = 0
    try:
        cur = conn.cursor()
        buf: list[tuple] = []
        for row in df.toLocalIterator():
            buf.append(tuple(row))
            if len(buf) >= batch_size:
                cur.executemany(sql, buf)
                n += len(buf)
                buf = []
        if buf:
            cur.executemany(sql, buf)
            n += len(buf)
        conn.commit()
    finally:
        conn.close()
    return n


def write_training_shards(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    min_words: int = 20,
    near_dedup: bool = False,
    pack_budget: int | None = None,
) -> DataFrame:
    """End-to-end shard production: quality gate → dedup keep-first →
    deterministic split → (optional) sequence packing → parquet
    partitioned by (split, lang).

    ``near_dedup=False`` dedups exact text hashes only (one window over
    md5 groups); ``near_dedup=True`` additionally drops MinHash-LSH
    near-duplicates using the cluster labels from
    :func:`bpaotu_spark.dedup.core.corpus_near_dedup_keep_first`. The
    representative is re-elected WITHIN the quality-gated set (min
    surviving doc_id per cluster) — electing on the raw corpus would
    silently drop a whole cluster whenever its global min-doc_id
    representative fails the quality gate. ``pack_budget`` adds the
    concat-and-chunk packing columns (chunk_idx, chunk_offset) per
    (split, lang) stream — two-level prefix sums via
    :func:`bpaotu_spark.operators.pipeline.packed_token_offsets`, so no
    task ever sorts a whole stream — making the shards directly
    consumable by a sequence-packing dataloader.

    Returns the manifest (split, lang, n_docs, total_chars) of what was
    written. Partitioning by the two low-cardinality routing columns
    means a trainer reading ``split=train/lang=en`` prunes everything
    else at the directory level; within a partition, files stay at the
    writer's task granularity (no global coalesce — a single-file shard
    would serialize the write at 100 TB).
    """
    from pyspark.sql import Window

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.functions.textops import tokenize
    from bpaotu_spark.operators.pipeline import (
        _SPLIT_BUCKETS,
        _TRAIN_LT,
        _VALID_LT,
        hash_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.filter(F.size(tokenize(F.col("text"))) >= min_words)
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    docs = docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    if near_dedup:
        from bpaotu_spark.dedup.core import corpus_near_dedup_keep_first

        labels = corpus_near_dedup_keep_first(spark, sf_dir).select(
            "doc_id", "cluster_id"
        )
        wc = Window.partitionBy("cluster_id").orderBy(F.col("doc_id").asc())
        docs = (
            docs.join(labels, "doc_id")
            .withColumn("_ck", F.row_number().over(wc))
            .filter(F.col("_ck") == 1)
            .drop("_ck", "cluster_id")
        )
    b = hash_bucket(F.col("doc_id"), _SPLIT_BUCKETS)
    split = (
        F.when(b < _TRAIN_LT, "train").when(b < _VALID_LT, "valid").otherwise("test")
    )
    sharded = docs.select("doc_id", "text", "lang", "source", split.alias("split"))
    if pack_budget is not None:
        from bpaotu_spark.operators.pipeline import packed_token_offsets

        n_tok = F.size(tokenize(F.col("text"))).cast("bigint")
        sharded = (
            packed_token_offsets(
                sharded.withColumn("n_tokens", n_tok), ["split", "lang"]
            )
            .withColumn("chunk_idx", F.expr(f"tok_before div {pack_budget}"))
            .withColumn("chunk_offset", F.col("tok_before") % pack_budget)
            .drop("tok_before")
        )
    write_parquet(sharded, out_path, partition_by=("split", "lang"))
    return (
        spark.read.parquet(out_path)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed-table sink: the lake layout for co-located fact⋈fact
    joins. Two tables bucketed (and optionally sorted) the same way on
    the join key join with ZERO exchanges — the bucket id IS the
    partition assignment, so a 100 TB lineitem⋈orders skips both
    shuffles entirely (see test_bucketed_join_no_shuffle). Bucket count
    is a lake-level constant chosen once (≈ total cluster cores at the
    target scale); all writers must agree on it."""
    writer = (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_orc(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """ORC source (Spark-native, no extra jars). Same pushdown class
    as parquet: predicate pushdown + column pruning reach the ORC
    reader, so a lake standardized on ORC loses nothing vs parquet
    here."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """ORC sink with the same partition-pruning layout contract as
    write_parquet (zlib default codec; Spark's built-in ORC writer)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
