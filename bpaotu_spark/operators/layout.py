"""Data-layout effectiveness audit: Z-order clustering vs natural order.

At 100 TB the dominant cost of a selective query is how many files the
scan can SKIP via footer min/max statistics. Writers that cluster on a
space-filling curve (Z-order / Hilbert — the Delta/Iceberg OPTIMIZE
ZORDER technique) shrink every file's bounding box on the clustered
columns, so a two-column range probe prunes most files; insertion
order leaves both columns unclustered and every file overlaps the
probe. ``zorder_file_pruning`` measures exactly that tradeoff on the
lineitem fact: it simulates 64 files under both layouts, computes each
file's (partkey, suppkey) bounding box, and reports how many files a
mid-range two-column probe would have to read.

Everything is integer arithmetic (bit interleave via div/mod — the
same expression string runs in both engines), so the audit is
hash-exact. Scale shape: one fact scan, one explode(2) to tag each row
with both layouts, one (layout, file) aggregation with map-side
combine into 128 groups, then a 2-group rollup. The max() frame is a
1-row broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.registry import register

_N_FILES = 64
_BITS = 8  # 8 bits per dimension -> 16-bit z-value


def _interleave_expr(px: str, sx: str, intdiv: str) -> str:
    """Bit-interleave two 8-bit ints: z = px7 sx7 px6 sx6 ... px0 sx0.

    Pure div/mod arithmetic so the SAME formula (modulo the integer-
    division token) runs as a Spark expression and inside the DuckDB
    oracle — no engine-specific bit builtins.
    """
    terms = []
    for i in range(_BITS):
        terms.append(f"(({px} {intdiv} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({sx} {intdiv} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@register(
    "zorder_file_pruning",
    oracle=f"""
WITH mx AS (
  SELECT CAST(max(l_partkey) AS BIGINT) AS max_pk,
         CAST(max(l_suppkey) AS BIGINT) AS max_sk,
         CAST(max(l_orderkey) AS BIGINT) AS max_ok
  FROM lineitem
), coded AS (
  SELECT l_partkey, l_suppkey,
    (l_partkey * 256) // (max_pk + 1) AS px,
    (l_suppkey * 256) // (max_sk + 1) AS sx,
    (l_orderkey * {_N_FILES}) // (max_ok + 1) AS nfile,
    max_pk, max_sk
  FROM lineitem, mx
), zed AS (
  SELECT l_partkey, l_suppkey, nfile, max_pk, max_sk,
    ({_interleave_expr('px', 'sx', '//')}) * {_N_FILES} // 65536 AS zfile
  FROM coded
), tagged AS (
  SELECT 'natural' AS layout, nfile AS file_id, l_partkey, l_suppkey,
         max_pk, max_sk FROM zed
  UNION ALL
  SELECT 'zorder' AS layout, zfile AS file_id, l_partkey, l_suppkey,
         max_pk, max_sk FROM zed
), files AS (
  SELECT layout, file_id,
    CAST(min(l_partkey) AS BIGINT) AS min_pk,
    CAST(max(l_partkey) AS BIGINT) AS max_pk_f,
    CAST(min(l_suppkey) AS BIGINT) AS min_sk,
    CAST(max(l_suppkey) AS BIGINT) AS max_sk_f,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(max(max_pk) AS BIGINT) AS g_pk,
    CAST(max(max_sk) AS BIGINT) AS g_sk
  FROM tagged GROUP BY layout, file_id
)
SELECT layout,
  CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(CASE WHEN min_pk * 16 <= g_pk * 9 AND max_pk_f * 16 >= g_pk * 7
                 AND min_sk * 16 <= g_sk * 9 AND max_sk_f * 16 >= g_sk * 7
            THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
  CAST(sum(CASE WHEN min_pk * 16 <= g_pk * 9 AND max_pk_f * 16 >= g_pk * 7
                 AND min_sk * 16 <= g_sk * 9 AND max_sk_f * 16 >= g_sk * 7
            THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
  CAST(sum(n_rows) AS BIGINT) AS rows_total,
  (CAST(sum(CASE WHEN min_pk * 16 <= g_pk * 9 AND max_pk_f * 16 >= g_pk * 7
                  AND min_sk * 16 <= g_sk * 9 AND max_sk_f * 16 >= g_sk * 7
             THEN n_rows ELSE 0 END) AS BIGINT) * 1000000)
    // CAST(sum(n_rows) AS BIGINT) AS scan_frac_ppm
FROM files GROUP BY layout
""",
)
def zorder_file_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").cast("bigint").alias("max_pk"),
        F.max("l_suppkey").cast("bigint").alias("max_sk"),
        F.max("l_orderkey").cast("bigint").alias("max_ok"),
    )
    coded = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "l_suppkey",
        "max_pk",
        "max_sk",
        F.expr("(l_partkey * 256) div (max_pk + 1)").alias("px"),
        F.expr("(l_suppkey * 256) div (max_sk + 1)").alias("sx"),
        F.expr(f"(l_orderkey * {_N_FILES}) div (max_ok + 1)").alias("nfile"),
    )
    zed = coded.withColumn(
        "zfile",
        F.expr(f"(({_interleave_expr('px', 'sx', 'div')}) * {_N_FILES}) div 65536"),
    )
    # one explode tags each row with both layouts -> a single shuffle
    # into 128 (layout, file) groups with full map-side combine
    tagged = zed.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.col("nfile").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("zfile").alias("file_id"),
                ),
            )
        ).alias("t"),
        "l_partkey",
        "l_suppkey",
        "max_pk",
        "max_sk",
    ).select("t.layout", "t.file_id", "l_partkey", "l_suppkey", "max_pk", "max_sk")
    files = tagged.groupBy("layout", "file_id").agg(
        F.min("l_partkey").cast("bigint").alias("min_pk"),
        F.max("l_partkey").cast("bigint").alias("max_pk_f"),
        F.min("l_suppkey").cast("bigint").alias("min_sk"),
        F.max("l_suppkey").cast("bigint").alias("max_sk_f"),
        F.count(F.lit(1)).alias("n_rows"),
        F.max("max_pk").cast("bigint").alias("g_pk"),
        F.max("max_sk").cast("bigint").alias("g_sk"),
    )
    # probe = the middle eighth of both key ranges: [7/16·max, 9/16·max]
    hit = F.expr(
        "min_pk * 16 <= g_pk * 9 AND max_pk_f * 16 >= g_pk * 7 "
        "AND min_sk * 16 <= g_sk * 9 AND max_sk_f * 16 >= g_sk * 7"
    )
    agg = files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(hit, 1).otherwise(0)).alias("files_hit"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).alias("rows_scanned"),
        F.sum("n_rows").alias("rows_total"),
    )
    return agg.select(
        "layout",
        "n_files",
        "files_hit",
        "rows_scanned",
        "rows_total",
        F.expr("(rows_scanned * 1000000) div rows_total").alias(
            "scan_frac_ppm"
        ),
    )
