"""bpaotu query semantics, Spark-first.

The reference's data model (public paths ``bpaotu/otu/models.py``,
``bpaotu/otu/query.py``) maps onto the driver test tables as:

- **sample** (reference ``SampleContext``)  = customer; contextual
  attributes come from customer ⋈ nation ⋈ region, built once per data
  stamp and published as the store artifact ``sample_ctx``
  (:func:`sample_context`), the one table the sample pages filter.
- **OTU** (reference ``OTU`` taxonomy rows) = part, with the rank
  hierarchy p_type → p_brand → p_name.
- **abundance fact** (reference ``SampleOTU``, the 100 TB table) =
  lineitem ⋈ orders: ``(sample_id=o_custkey, otu_id=l_partkey,
  cnt=l_quantity, order_id=l_orderkey)``, built once per data stamp
  and published as the store artifact ``sample_otu``
  (:func:`sample_otu`); :func:`abundance_selected` scans its files in
  place, as the reference's pages read their physical ``SampleOTU``
  table.

Scale notes (the part that has to survive 1000 executors):

- The abundance join (lineitem ⋈ orders on orderkey) carries NO
  broadcast hint: AQE broadcasts it at test scale, and at full scale it
  becomes a shuffle join on the natural key — on a real lake both
  facts would be bucketed by orderkey so it is shuffle-free. It runs
  once per data stamp, to publish ``sample_otu``; a sample selection
  then joins the published fact alone.
- A page whose input is one small file runs in one partition: the
  published ``sample_otu`` scan in :func:`abundance_selected` and the
  ``orders`` scan in ``map_binning_2d`` go through
  :func:`bpaotu_spark.catalog.maybe_single_partition`, so while the
  file is a single local file under AQE's ``minPartitionSize`` (1 MB;
  sf0.001 and sf0.01 here) the joins and aggregates above the scan
  plan no exchange. Past that size (``orders`` is 2.7 MB at sf0.1) or
  once the fact spans several files, the scan keeps its exchanges and
  its parallelism. The pair formers, whose self-join outgrows the
  input file, keep them at every size (``self_join=True``).
- All *dimension* joins (customer/nation/region/part) are explicit
  ``F.broadcast``: they stay bounded while the fact grows.
- Pairwise operators (Bray-Curtis) are **blocked**: pairs are only
  formed inside a block key (here c_nationkey over a filtered sample
  selection), so the pair count is quadratic in the block size, never
  in the table size — the reference's comparison page has the same
  contract (it operates on the user's filtered selection).
- Every filter is a plain Catalyst predicate built by
  :mod:`bpaotu_spark.plans.filters`. Taxonomy and fact filters push
  into the parquet scans; sample (contextual) filters apply to the
  stored SampleContext, an in-memory scan of the published artifact,
  as the reference filters its stored ``SampleContext`` table rather
  than re-joining the dimensions on every page.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from bpaotu_spark.catalog import (
    _memo_schema,
    load_table,
    maybe_broadcast,
    maybe_single_partition,
)
from bpaotu_spark.plans.filters import ContextualFilter, Pred
from bpaotu_spark.plans.taxonomy import RankFix, TaxonomyFilter, drilldown_options
from bpaotu_spark.registry import ORACLES, register

DEC = "decimal(18,6)"

# SQL CTE mirror of abundance(); every oracle below shares it.
ABUNDANCE_CTE = """
abundance AS (
  SELECT o_custkey AS sample_id, l_partkey AS otu_id, l_quantity AS cnt,
         l_orderkey AS order_id
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
""".strip()


def abundance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form abundance fact: (sample_id, otu_id, cnt, order_id)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("otu_id"),
        F.col("l_quantity").alias("cnt"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("sample_id")
    )
    return li.join(od, li.l_orderkey == od.o_orderkey).select(
        "sample_id", "otu_id", "cnt", F.col("l_orderkey").alias("order_id")
    )


SAMPLE_OTU_TABLES = ("lineitem", "orders")


def sample_otu(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The published SampleOTU fact ``sample_otu`` — :func:`abundance`'s
    rows, keyed on the file stamps of lineitem and orders, built and
    published on a store miss — as a parquet scan of its files in
    place (no checkpoint; the schema is memoized, so a warm call runs
    no job). None when the store is unwritable."""
    from bpaotu_spark.ann.index_store import publish

    path = publish(
        spark,
        sf_dir,
        "sample_otu",
        lambda: abundance(spark, sf_dir),
        table=SAMPLE_OTU_TABLES,
    )
    if path is None:
        return None
    schema = _memo_schema(spark, path)
    return (spark.read.schema(schema) if schema else spark.read).parquet(path)


def abundance_selected(
    spark: SparkSession, sf_dir: str, sel: DataFrame, *, self_join: bool = False
) -> DataFrame:
    """Abundance fact restricted to a sample selection: the published
    :func:`sample_otu` fact joined with ``sel`` (broadcast when its
    size estimate allows), one scan and one join.

    When the store is unwritable the selection is pushed BELOW the
    lineitem ⋈ orders join instead: the selection joins orders first,
    and the filtered orders — O(1) in SF for a fixed cohort (~10
    orders per customer) — joins the lineitem scan. Catalyst can't
    reorder `(lineitem ⋈ orders) ⋈ sel` this way without CBO stats, so
    every study-selection operator was paying a full fact-fact
    shuffle before its cohort filter (the r9 PCoA-feed lesson,
    generalized).

    ``sel`` must carry ``sample_id``; its other columns (block, grp,
    …) ride along, exactly as the old `abundance().join(sel)` shape
    produced. Result: sel's columns + (otu_id, cnt, order_id).

    The fact scan goes through
    :func:`bpaotu_spark.catalog.maybe_single_partition`, so a page
    that aggregates the selection over a one-file fact runs with no
    exchange. A caller that joins the result with itself (the blocked
    pair formers) passes ``self_join=True`` and keeps the scan's
    exchanges: the self-join's output outgrows the one input file the
    rule checks, and its branches share the scan, selection join and
    aggregate only through exchange reuse. Under ``Coalesce(1)`` each
    branch would redo them.
    """
    fact = sample_otu(spark, sf_dir)
    if fact is not None:
        if not self_join:
            fact = maybe_single_partition(fact)
        return maybe_broadcast(sel).join(fact, "sample_id").select(
            *sel.columns, "otu_id", "cnt", "order_id"
        )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("sample_id")
    )
    od_f = od.join(maybe_broadcast(sel), "sample_id")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("otu_id"),
        F.col("l_quantity").alias("cnt"),
    )
    return li.join(
        maybe_broadcast(od_f), li.l_orderkey == od_f.o_orderkey
    ).select(*sel.columns, "otu_id", "cnt", F.col("l_orderkey").alias("order_id"))


def _build_sample_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))


def sample_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample page attributes: customer ⋈ nation ⋈ region (all dims),
    served from the store (``sample_ctx``, keyed on the three tables'
    file stamps). Every call returns the same localCheckpointed frame,
    so a page plans one in-memory scan with no dimension broadcast;
    both sides of a self-join carry the same column ids, so such a
    join must alias each side."""
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        "sample_ctx",
        lambda: _build_sample_context(spark, sf_dir),
        table=("customer", "nation", "region"),
    )


_CONTEXT_SQL = """
context AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey,
         n_name, r_name
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
""".strip()

_CONTEXT_COLS = ("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "n_name", "r_name")


# ---------------------------------------------------------------------------
# contextual_filter_and / contextual_filter_or — the ContextualFilter engine.
# One Pred spec drives BOTH the Spark predicate and the oracle SQL.
# ---------------------------------------------------------------------------

_AND_FILTER = ContextualFilter.of(
    [
        Pred("c_acctbal", "between", (0.0, 5000.0)),
        Pred("c_mktsegment", "in", ("BUILDING", "MACHINERY")),
        Pred("c_name", "contains", "9"),
        Pred("n_name", "ne", "CHINA"),
        Pred("c_acctbal", "notnull"),
    ],
    "and",
)

_OR_FILTER = ContextualFilter.of(
    [
        Pred("c_acctbal", "lt", 0.0),
        Pred("c_mktsegment", "eq", "AUTOMOBILE"),
        Pred("c_name", "contains", "99"),
        Pred("r_name", "isnull"),
    ],
    "or",
)


def _contextual_page(spark: SparkSession, sf_dir: str, cf: ContextualFilter) -> DataFrame:
    return sample_context(spark, sf_dir).filter(cf.column()).select(*_CONTEXT_COLS)


@register(
    "contextual_filter_and",
    oracle=f"""
WITH {_CONTEXT_SQL}
SELECT {', '.join(_CONTEXT_COLS)} FROM context
WHERE {_AND_FILTER.sql()}
""",
)
def contextual_filter_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _contextual_page(spark, sf_dir, _AND_FILTER)


@register(
    "contextual_filter_or",
    oracle=f"""
WITH {_CONTEXT_SQL}
SELECT {', '.join(_CONTEXT_COLS)} FROM context
WHERE {_OR_FILTER.sql()}
""",
)
def contextual_filter_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _contextual_page(spark, sf_dir, _OR_FILTER)


# ---------------------------------------------------------------------------
# taxonomy_drilldown — fix ranks 1..k, list rank k+1 options with taxon
# counts and abundance totals (the taxonomy-options endpoint).
# ---------------------------------------------------------------------------

TAXONOMY_RANKS = ("p_type", "p_brand", "p_name")

_DRILL = TaxonomyFilter(TAXONOMY_RANKS, (RankFix(0, "PROMO"),))


@register(
    "taxonomy_drilldown",
    oracle=f"""
WITH {ABUNDANCE_CTE}
SELECT
  p_brand AS option,
  count(DISTINCT p_partkey) AS n_taxa,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance,
  count(DISTINCT sample_id) AS n_samples
FROM abundance
JOIN part ON otu_id = p_partkey
WHERE {_DRILL.sql()}
GROUP BY p_brand
""",
)
def taxonomy_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(_DRILL.column())
    nxt = _DRILL.next_rank()
    return (
        ab.join(maybe_broadcast(part), ab.otu_id == part.p_partkey)
        .groupBy(F.col(nxt).alias("option"))
        .agg(
            F.countDistinct("p_partkey").alias("n_taxa"),
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
            F.countDistinct("sample_id").alias("n_samples"),
        )
    )


# ---------------------------------------------------------------------------
# krona_rollup — full-path hierarchical abundance rollup (Krona export).
# Depth column = number of fixed levels, so the tree can be rebuilt from
# the flat rows (reference: krona export endpoint).
# ---------------------------------------------------------------------------


@register(
    "krona_rollup",
    oracle=f"""
WITH {ABUNDANCE_CTE}, {_CONTEXT_SQL}
SELECT
  r_name, n_name, c_mktsegment,
  (CASE WHEN r_name IS NULL THEN 0 ELSE 1 END
   + CASE WHEN n_name IS NULL THEN 0 ELSE 1 END
   + CASE WHEN c_mktsegment IS NULL THEN 0 ELSE 1 END) AS depth,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance,
  count(DISTINCT sample_id) AS n_samples
FROM abundance
JOIN context ON sample_id = c_custkey
GROUP BY ROLLUP (r_name, n_name, c_mktsegment)
""",
)
def krona_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    ctx = sample_context(spark, sf_dir).select(
        "c_custkey", "c_mktsegment", "n_name", "r_name"
    )
    joined = ab.join(F.broadcast(ctx), ab.sample_id == ctx.c_custkey)
    depth = (
        F.when(F.col("r_name").isNull(), 0).otherwise(1)
        + F.when(F.col("n_name").isNull(), 0).otherwise(1)
        + F.when(F.col("c_mktsegment").isNull(), 0).otherwise(1)
    )
    # r15: pre-aggregate to one row per sample BEFORE the rollup — the
    # (r, n, segment) context is a function of the sample, so the
    # rollup's Expand multiplies ~|samples| rows instead of the fact
    # stream, and countDistinct(sample_id) becomes count(*) (each
    # rollup group sees each sample exactly once). cnt sums are exact
    # (integer-valued doubles), so partial sums are associative and
    # the rounded totals are bit-identical; measured min-of-5
    # interleaved 1.65 s → 1.30 s at sf0.1, exact set equality.
    g = joined.groupBy(
        "r_name", "n_name", "c_mktsegment", "sample_id"
    ).agg(F.sum("cnt").alias("s"))
    return (
        g.rollup("r_name", "n_name", "c_mktsegment")
        .agg(
            F.round(F.sum("s"), 4).cast("double").alias("total_abundance"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .withColumn("depth", depth)
        .select("r_name", "n_name", "c_mktsegment", "depth", "total_abundance", "n_samples")
    )


# ---------------------------------------------------------------------------
# abundance_matrix — samples × taxa wide matrix (BIOM-ish export).
# Explicit pivot values: stable schema at every scale factor and no
# extra distinct-scan job. 25 brand columns is the bounded taxa axis.
# ---------------------------------------------------------------------------

BRANDS = tuple(f"Brand#{i}" for i in range(1, 26))


def _brand_alias(b: str) -> str:
    return "brand_" + b.split("#")[1]


@register(
    "abundance_matrix",
    oracle="WITH "
    + ABUNDANCE_CTE
    + """
SELECT
  sample_id,
"""
    + ",\n".join(
        f"  CAST(round(coalesce(sum(cnt) FILTER (WHERE p_brand = '{b}'), 0), 4) AS DOUBLE)"
        f" AS {_brand_alias(b)}"
        for b in BRANDS
    )
    + """
FROM abundance JOIN part ON otu_id = p_partkey
GROUP BY sample_id
""",
)
def abundance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    piv = (
        ab.join(maybe_broadcast(part), ab.otu_id == part.p_partkey)
        .groupBy("sample_id")
        .pivot("p_brand", list(BRANDS))
        .agg(F.round(F.sum("cnt"), 4).cast("double"))
        .na.fill(0.0)
    )
    for b in BRANDS:
        piv = piv.withColumnRenamed(b, _brand_alias(b))
    return piv


# ---------------------------------------------------------------------------
# otu_text_search — substring search over taxon names + abundance join
# (reference: OTU search endpoint).
# ---------------------------------------------------------------------------

_SEARCH = TaxonomyFilter(TAXONOMY_RANKS, ())
_SEARCH_PRED = Pred("p_name", "contains", "widget")


@register(
    "otu_text_search",
    oracle=f"""
WITH {ABUNDANCE_CTE}
SELECT
  p_partkey, p_name, p_brand,
  count(DISTINCT sample_id) AS n_samples,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance
FROM part
JOIN abundance ON otu_id = p_partkey
WHERE {_SEARCH_PRED.sql()}
GROUP BY p_partkey, p_name, p_brand
""",
)
def otu_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(_SEARCH_PRED.column())
    ab = abundance(spark, sf_dir)
    return (
        ab.join(maybe_broadcast(part), ab.otu_id == part.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            F.countDistinct("sample_id").alias("n_samples"),
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
        )
    )


# ---------------------------------------------------------------------------
# alpha_diversity — per-sample Shannon entropy + richness (comparison /
# diversity page). Two algebraic aggregations, no window over the fact.
# ---------------------------------------------------------------------------


@register(
    "alpha_diversity",
    oracle=f"""
WITH {ABUNDANCE_CTE},
a AS (
  SELECT sample_id, otu_id, sum(cnt) AS c
  FROM abundance GROUP BY sample_id, otu_id
)
SELECT
  sample_id,
  count(*) AS richness,
  CAST(round(sum(c), 4) AS DOUBLE) AS total_abundance,
  CAST(round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS DOUBLE) AS shannon
FROM a
GROUP BY sample_id
""",
)
def alpha_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon H = ln(T) - Σ c·ln(c) / T with T = Σ c.

    This algebraic form needs only per-(sample, otu) partial sums and a
    single per-sample aggregation — no second pass / window to compute
    proportions, so map-side combine applies all the way down.
    """
    ab = abundance(spark, sf_dir)
    per_otu = ab.groupBy("sample_id", "otu_id").agg(F.sum("cnt").alias("c"))
    return per_otu.groupBy("sample_id").agg(
        F.count(F.lit(1)).alias("richness"),
        F.round(F.sum("c"), 4).cast("double").alias("total_abundance"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 4
        )
        .cast("double")
        .alias("shannon"),
    )


# ---------------------------------------------------------------------------
# beta_diversity_braycurtis — pairwise Bray-Curtis, BLOCKED.
# BC(a,b) = 1 - 2·Σ min(x_ai, x_bi) / (Σx_a + Σx_b).
# Pairs form only inside (block = c_nationkey) over a filtered sample
# selection — never a global cross product.
# ---------------------------------------------------------------------------

_BC_FILTER = ContextualFilter.of([Pred("c_mktsegment", "eq", "BUILDING")], "and")


@register(
    "beta_diversity_braycurtis",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_BC_FILTER.sql()}
),
a AS (
  SELECT ab.sample_id, block, otu_id, sum(cnt) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, block, otu_id
),
tot AS (
  SELECT sample_id, block, sum(c) AS tot FROM a GROUP BY sample_id, block
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         sum(least(x.c, y.c)) AS sum_min
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT
  ta.sample_id AS sample_a,
  tb.sample_id AS sample_b,
  CAST(round(1.0 - 2.0 * coalesce(s.sum_min, 0) / (ta.tot + tb.tot), 4) AS DOUBLE)
    AS bray_curtis
FROM tot ta
JOIN tot tb ON ta.block = tb.block AND ta.sample_id < tb.sample_id
LEFT JOIN shared s ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
""",
)
def beta_diversity_braycurtis(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(_BC_FILTER.column()).select(
        F.col("c_custkey").alias("sample_id"), F.col("c_nationkey").alias("block")
    )
    ab = abundance_selected(spark, sf_dir, sel)
    # a fans into tot (read twice by the pair former) and both sides of
    # the shared-mass self-join — four plan references that each
    # recomputed the abundance pipeline (24 parquet scans in the before
    # plan). One localCheckpoint materializes the per-(sample, otu)
    # aggregate once.
    a = (
        ab.groupBy("sample_id", "block", "otu_id")
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint()
    )
    tot = a.groupBy("sample_id", "block").agg(F.sum("c").alias("tot"))

    ax = a.select(
        F.col("block"),
        F.col("otu_id"),
        F.col("sample_id").alias("sample_a"),
        F.col("c").alias("ca"),
    )
    ay = a.select(
        F.col("block").alias("block_y"),
        F.col("otu_id").alias("otu_y"),
        F.col("sample_id").alias("sample_b"),
        F.col("c").alias("cb"),
    )
    shared = (
        ax.join(
            ay,
            (ax.otu_id == ay.otu_y)
            & (ax.block == ay.block_y)
            & (ax.sample_a < ay.sample_b),
        )
        .groupBy("sample_a", "sample_b")
        .agg(F.sum(F.least("ca", "cb")).alias("sum_min"))
    )

    # The pair-former joins on block ALONE — one shuffle partition per
    # nation, so the largest nation dominates a single task. Two-level
    # sub-blocking (the packed_token_offsets pattern): each side is
    # hash-assigned to one of S sub-blocks and replicated across the
    # other side's S sub-blocks, so the join key (block, sub_a, sub_b)
    # splits every nation into S² balanced cells. Every (a, b) pair
    # lands in exactly ONE cell — (sub(a), sub(b)) — so the pair set is
    # identical to the naive block join (the oracle keeps the naive
    # form, proving it). Replication is S× of a per-sample AGGREGATE
    # (tiny vs the fact); the largest task shrinks S²×.
    S = 8
    sub_vals = F.explode(F.array(*[F.lit(i) for i in range(S)]))
    ta = (
        tot.select(
            F.col("block"),
            F.col("sample_id").alias("sample_a"),
            F.col("tot").alias("tot_a"),
        )
        .withColumn("sub_a", F.pmod(F.xxhash64("sample_a"), F.lit(S)).cast("int"))
        .withColumn("sub_b", sub_vals)
    )
    tb = (
        tot.select(
            F.col("block").alias("block_b"),
            F.col("sample_id").alias("sample_b"),
            F.col("tot").alias("tot_b"),
        )
        .withColumn("sub_b_own", F.pmod(F.xxhash64("sample_b"), F.lit(S)).cast("int"))
        .withColumn("sub_a_rep", sub_vals)
    )
    pairs = ta.join(
        tb,
        (ta.block == tb.block_b)
        & (ta.sub_a == tb.sub_a_rep)
        & (ta.sub_b == tb.sub_b_own)
        & (ta.sample_a < tb.sample_b),
    )
    return (
        pairs.join(shared, ["sample_a", "sample_b"], "left")
        .na.fill({"sum_min": 0.0})
        .select(
            "sample_a",
            "sample_b",
            F.round(
                1.0 - 2.0 * F.col("sum_min") / (F.col("tot_a") + F.col("tot_b")), 4
            )
            .cast("double")
            .alias("bray_curtis"),
        )
    )


# ---------------------------------------------------------------------------
# sample_summary — filtered sample page with per-sample aggregates
# (reference: sample search results with per-sample richness/abundance).
# ---------------------------------------------------------------------------

_SUMMARY_FILTER = ContextualFilter.of(
    [Pred("c_mktsegment", "eq", "BUILDING"), Pred("c_acctbal", "gt", 1000.0)],
    "and",
)


@register(
    "sample_summary",
    oracle=f"""
WITH {ABUNDANCE_CTE}, {_CONTEXT_SQL}
SELECT
  c_custkey AS sample_id,
  c_name, c_acctbal, n_name,
  count(DISTINCT order_id) AS n_orders,
  count(DISTINCT otu_id) AS richness,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance
FROM context
JOIN abundance ON sample_id = c_custkey
WHERE {_SUMMARY_FILTER.sql()}
GROUP BY c_custkey, c_name, c_acctbal, n_name
""",
)
def sample_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = (
        sample_context(spark, sf_dir)
        .filter(_SUMMARY_FILTER.column())
        .select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    ab = abundance(spark, sf_dir)
    return (
        ab.join(F.broadcast(ctx), ab.sample_id == ctx.c_custkey)
        .groupBy(
            F.col("c_custkey").alias("sample_id"), "c_name", "c_acctbal", "n_name"
        )
        .agg(
            F.countDistinct("order_id").alias("n_orders"),
            F.countDistinct("otu_id").alias("richness"),
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
        )
    )


# ---------------------------------------------------------------------------
# export_long_abundance — long-form abundance export with BOTH filter
# kinds applied (the reference's CSV/BIOM export path).
# ---------------------------------------------------------------------------

_EXPORT_TAX = TaxonomyFilter(TAXONOMY_RANKS, (RankFix(0, "PROMO"),))
_EXPORT_CTX = ContextualFilter.of(
    [Pred("c_mktsegment", "eq", "MACHINERY"), Pred("c_acctbal", "gt", 100.0)],
    "and",
)


@register(
    "export_long_abundance",
    oracle=f"""
WITH {ABUNDANCE_CTE}
SELECT
  sample_id, otu_id, p_type, p_brand, p_name,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS abundance
FROM abundance
JOIN part ON otu_id = p_partkey
JOIN customer ON sample_id = c_custkey
WHERE ({_EXPORT_TAX.sql()}) AND ({_EXPORT_CTX.sql()})
GROUP BY sample_id, otu_id, p_type, p_brand, p_name
""",
)
def export_long_abundance(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(_EXPORT_TAX.column())
    cust = load_table(spark, sf_dir, "customer").filter(_EXPORT_CTX.column())
    ab = abundance(spark, sf_dir)
    return (
        ab.join(maybe_broadcast(part), ab.otu_id == part.p_partkey)
        .join(maybe_broadcast(cust), ab.sample_id == cust.c_custkey)
        .groupBy("sample_id", "otu_id", "p_type", "p_brand", "p_name")
        .agg(F.round(F.sum("cnt"), 4).cast("double").alias("abundance"))
    )


# ---------------------------------------------------------------------------
# map_binning_2d — the reference's map layer: samples binned into a 2-D
# grid with per-cell counts and abundance sums (lat/lon in the
# reference; two numeric context axes here — the operator is generic).
# ---------------------------------------------------------------------------

_BIN_X = 1000.0  # c_acctbal bin width
_BIN_Y = 50000.0  # o_totalprice bin width


@register(
    "map_binning_2d",
    oracle=f"""
SELECT
  CAST(floor(c_acctbal / {_BIN_X}) AS BIGINT) AS bin_x,
  CAST(floor(o_totalprice / {_BIN_Y}) AS BIGINT) AS bin_y,
  count(*) AS n_orders,
  count(DISTINCT c_custkey) AS n_samples,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
""",
)
def map_binning_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = maybe_single_partition(load_table(spark, sf_dir, "orders"))
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(maybe_broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    return (
        j.groupBy(
            F.floor(F.col("c_acctbal") / _BIN_X).cast("bigint").alias("bin_x"),
            F.floor(F.col("o_totalprice") / _BIN_Y).cast("bigint").alias("bin_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_samples"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)), 4)
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# taxonomy_isnot_filter — the reference's "is / isnot" rank semantics:
# fix rank 1, EXCLUDE one rank-2 value, list remaining taxa + abundance
# (amplicon/trait filters use the same mechanism on other columns).
# ---------------------------------------------------------------------------

_ISNOT = TaxonomyFilter(
    TAXONOMY_RANKS, (RankFix(0, "PROMO"), RankFix(1, "Brand#13", negated=True))
)


@register(
    "taxonomy_isnot_filter",
    oracle=f"""
WITH {ABUNDANCE_CTE}
SELECT
  p_brand, p_partkey, p_name,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance,
  count(DISTINCT sample_id) AS n_samples
FROM abundance
JOIN part ON otu_id = p_partkey
WHERE {_ISNOT.sql()}
GROUP BY p_brand, p_partkey, p_name
""",
)
def taxonomy_isnot_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(_ISNOT.column())
    return (
        ab.join(maybe_broadcast(part), ab.otu_id == part.p_partkey)
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
            F.countDistinct("sample_id").alias("n_samples"),
        )
    )


# ---------------------------------------------------------------------------
# export_biom_triplets — the BIOM sparse-matrix export shape (reference
# ``bpaotu/otu/biom.py``): dense row/col indices assigned by rank over
# the filtered sample/taxon sets + (row, col, value) triplets.
# ---------------------------------------------------------------------------

_BIOM_CTX = ContextualFilter.of([Pred("c_mktsegment", "eq", "HOUSEHOLD")], "and")


@register(
    "export_biom_triplets",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey FROM customer WHERE {_BIOM_CTX.sql()}
),
cell AS (
  SELECT sample_id, otu_id, CAST(round(sum(cnt), 4) AS DOUBLE) AS v
  FROM abundance JOIN sel ON sample_id = c_custkey
  GROUP BY sample_id, otu_id
)
SELECT
  CAST(dense_rank() OVER (ORDER BY sample_id) - 1 AS BIGINT) AS row_idx,
  CAST(dense_rank() OVER (ORDER BY otu_id) - 1 AS BIGINT) AS col_idx,
  sample_id, otu_id, v
FROM cell
""",
)
def export_biom_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse (row, col, value) BIOM body (the reference's BIOM matrix
    writer, public path ``bpaotu/otu/biom.py``, needs dense 0-based
    row/col indices).

    The index maps are built on the *distinct id* sets — bounded by
    |samples| and |taxa|, both dimension-sized — and broadcast back
    onto the cell table, so the full cell table never funnels through
    a global window (the previous dense_rank-over-cells plan was a
    single-partition sort of every cell; at 100 TB that one task is
    the job). Index assignment is collect_set → sort_array →
    posexplode: the distinct sets shrink via parallel partial
    aggregation, only the final dimension-sized array lands in one
    task, and position-in-sorted-array == dense_rank - 1, so the
    oracle keeps the dense_rank form."""
    cust = load_table(spark, sf_dir, "customer").filter(_BIOM_CTX.column())
    sel = cust.select(F.col("c_custkey").alias("sample_id"))
    cell = (
        abundance_selected(spark, sf_dir, sel)
        .groupBy("sample_id", "otu_id")
        .agg(F.round(F.sum("cnt"), 4).cast("double").alias("v"))
    )
    row_ix = (
        cell.select(F.sort_array(F.collect_set("sample_id")).alias("ids"))
        .select(F.posexplode("ids").alias("pos", "sample_id"))
        .select("sample_id", F.col("pos").cast("bigint").alias("row_idx"))
    )
    col_ix = (
        cell.select(F.sort_array(F.collect_set("otu_id")).alias("ids"))
        .select(F.posexplode("ids").alias("pos", "otu_id"))
        .select("otu_id", F.col("pos").cast("bigint").alias("col_idx"))
    )
    # AQE reuses the cell aggregation's exchange across the three
    # branches (ReusedExchange), so the abundance scan+shuffle runs once.
    return (
        cell.join(F.broadcast(row_ix), "sample_id")
        .join(F.broadcast(col_ix), "otu_id")
        .select("row_idx", "col_idx", "sample_id", "otu_id", "v")
    )


# ---------------------------------------------------------------------------
# contextual_fields_catalog — the reference's contextual-schema
# definitions endpoint (public path ``bpaotu/otu/views.py``
# contextual-schema + ``models.py`` field metadata): per-field
# statistics over the SampleContext table that drive the filter-builder
# UI (distinct counts for dropdowns, ranges for sliders, null counts).
# ---------------------------------------------------------------------------

_CTX_FIELDS = (
    ("c_mktsegment", "string"),
    ("c_nationkey", "bigint"),
    ("c_acctbal", "double"),
)


@register(
    "contextual_fields_catalog",
    oracle="""
SELECT 'c_mktsegment' AS field, 'string' AS dtype,
  count(DISTINCT c_mktsegment) AS n_distinct,
  count(*) - count(c_mktsegment) AS n_null,
  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
  min(c_mktsegment) AS min_str, max(c_mktsegment) AS max_str
FROM customer
UNION ALL
SELECT 'c_nationkey', 'bigint',
  count(DISTINCT c_nationkey), count(*) - count(c_nationkey),
  CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE),
  NULL, NULL
FROM customer
UNION ALL
SELECT 'c_acctbal', 'double',
  count(DISTINCT c_acctbal), count(*) - count(c_acctbal),
  CAST(round(min(c_acctbal), 4) AS DOUBLE), CAST(round(max(c_acctbal), 4) AS DOUBLE),
  NULL, NULL
FROM customer
""",
)
def contextual_fields_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan computes every field's metrics (multi-agg, map-side
    combined), then the wide row unpivots to the per-field catalog —
    at 100 TB this is a single pass over SampleContext, not one scan
    per field."""
    cust = load_table(spark, sf_dir, "customer")
    aggs = []
    for f, _ in _CTX_FIELDS:
        aggs += [
            F.countDistinct(f).alias(f"{f}__nd"),
            (F.count(F.lit(1)) - F.count(f)).alias(f"{f}__nn"),
            F.min(f).alias(f"{f}__mn"),
            F.max(f).alias(f"{f}__mx"),
        ]
    wide = cust.agg(*aggs)
    rows = []
    for f, dt in _CTX_FIELDS:
        num = dt in ("bigint", "double")
        rnd = (lambda c: F.round(c, 4)) if dt == "double" else (lambda c: c)
        rows.append(
            F.struct(
                F.lit(f).alias("field"),
                F.lit(dt).alias("dtype"),
                F.col(f"{f}__nd").alias("n_distinct"),
                F.col(f"{f}__nn").alias("n_null"),
                (
                    rnd(F.col(f"{f}__mn")).cast("double")
                    if num
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    rnd(F.col(f"{f}__mx")).cast("double")
                    if num
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (F.col(f"{f}__mn") if not num else F.lit(None).cast("string")).alias(
                    "min_str"
                ),
                (F.col(f"{f}__mx") if not num else F.lit(None).cast("string")).alias(
                    "max_str"
                ),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# otu_query_combined — the reference's central OTUQueryParams object
# applied whole: taxonomy filter + trait filter (taxon side) AND
# contextual filter (sample side) driving one results page
# (``bpaotu/otu/query.py`` OTUQueryParams → every results endpoint).
# ---------------------------------------------------------------------------

from bpaotu_spark.plans.query_params import OTUQueryParams, TraitFilter  # noqa: E402

_QP = OTUQueryParams(
    taxonomy=TaxonomyFilter(TAXONOMY_RANKS, (RankFix(0, "PROMO"),)),
    contextual=ContextualFilter.of(
        [Pred("c_mktsegment", "eq", "AUTOMOBILE"), Pred("c_acctbal", "gt", 0.0)],
        "and",
    ),
    trait=TraitFilter("p_name", "widget"),
)


@register(
    "otu_query_combined",
    oracle=f"""
WITH {ABUNDANCE_CTE},
taxa AS (
  SELECT p_partkey, p_name, p_brand FROM part WHERE {_QP.taxon_sql()}
),
samples AS (
  SELECT c_custkey FROM customer WHERE {_QP.sample_sql()}
)
SELECT
  p_brand, p_partkey, p_name,
  count(DISTINCT sample_id) AS n_samples,
  CAST(round(sum(cnt), 4) AS DOUBLE) AS total_abundance
FROM abundance
JOIN taxa ON otu_id = p_partkey
JOIN samples ON sample_id = c_custkey
GROUP BY p_brand, p_partkey, p_name
""",
)
def otu_query_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both filter sides collapse BEFORE touching the abundance fact —
    the taxon set and sample set broadcast (bounded by filter
    selectivity, the reference's own working assumption), so the fact
    is scanned once with two broadcast semijoins, the cheapest possible
    shape for the universal results-page query."""
    taxa = load_table(spark, sf_dir, "part").filter(_QP.taxon_column()).select(
        "p_partkey", "p_name", "p_brand"
    )
    samples = (
        load_table(spark, sf_dir, "customer")
        .filter(_QP.sample_column())
        .select("c_custkey")
    )
    ab = abundance(spark, sf_dir)
    return (
        ab.join(F.broadcast(taxa), ab.otu_id == taxa.p_partkey)
        .join(F.broadcast(samples), ab.sample_id == samples.c_custkey)
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(
            F.countDistinct("sample_id").alias("n_samples"),
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
        )
    )


# ---------------------------------------------------------------------------
# abundance_rarefaction — depth-normalized abundances: every sample's
# OTU counts rescaled to a common sequencing depth (_RAREFY_DEPTH), the
# comparison-enabling normalization microbiome workflows apply before
# diversity metrics (reference analogue: the comparison page's
# normalized abundance inputs, public ``bpaotu/otu/query.py``).
#
# Deterministic PROPORTIONAL rarefaction — floor(c·D/total) in pure
# BIGINT — rather than classical multinomial subsampling: engines
# cannot share an RNG, and the floor form is the reproducible variant
# scale pipelines prefer anyway (rerun-stable, no seed management).
# Counts are whole numbers stored as doubles, so the BIGINT cast is
# lossless; the per-sample total joins back broadcast-after-agg
# (dimension-sized: one row per sample).
# ---------------------------------------------------------------------------

_RAREFY_DEPTH = 1000


@register(
    "abundance_rarefaction",
    oracle=f"""
WITH {ABUNDANCE_CTE},
a AS (
  SELECT sample_id, otu_id, CAST(sum(CAST(cnt AS BIGINT)) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
), tot AS (
  SELECT sample_id, CAST(sum(c) AS BIGINT) AS total FROM a GROUP BY sample_id
)
SELECT a.sample_id, a.otu_id, a.c AS raw_cnt,
  a.c * {_RAREFY_DEPTH} // tot.total AS rare_cnt
FROM a JOIN tot ON a.sample_id = tot.sample_id
""",
)
def abundance_rarefaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    a = ab.groupBy("sample_id", "otu_id").agg(
        F.sum(F.col("cnt").cast("bigint")).alias("c")
    )
    tot = a.groupBy("sample_id").agg(F.sum("c").alias("total"))
    return (
        a.join(tot, "sample_id")
        .select(
            "sample_id",
            "otu_id",
            F.col("c").alias("raw_cnt"),
            F.expr(f"CAST(c * {_RAREFY_DEPTH} DIV total AS BIGINT)").alias(
                "rare_cnt"
            ),
        )
    )


# ---------------------------------------------------------------------------
# taxa_cooccurrence — ecological co-occurrence network edges: for every
# pair of taxa (p_type level), in how many samples they co-occur, with
# integer-exact Jaccard and lift vs independence. The comparison-page
# analysis bpaotu users run downstream of export (co-occurrence
# networks over samples); also the sample-axis dual of
# basket_brand_lift (which pairs over orders).
#
# Scale shape: taxa are paired at a BOUNDED taxonomy rank (p_type —
# fixed vocabulary), so pairs per sample are ≤ C(|types present|, 2)
# and the global edge list is ≤ C(|types|, 2) regardless of corpus
# size. The pair join is per-sample (key = sample_id), the per-type
# marginals are one map-combined agg, and the sample total joins as a
# broadcast 1-row scalar.
# ---------------------------------------------------------------------------


@register(
    "taxa_cooccurrence",
    oracle=f"""
WITH {ABUNDANCE_CTE},
st AS (
  SELECT DISTINCT sample_id, p_type
  FROM abundance JOIN part ON otu_id = p_partkey
),
marg AS (
  SELECT p_type, count(*) AS n FROM st GROUP BY p_type
),
tot AS (SELECT count(DISTINCT sample_id) AS n_samples FROM st),
pairs AS (
  SELECT a.p_type AS type_a, b.p_type AS type_b, count(*) AS n_both
  FROM st a JOIN st b
    ON a.sample_id = b.sample_id AND a.p_type < b.p_type
  GROUP BY a.p_type, b.p_type
)
SELECT type_a, type_b, CAST(n_both AS BIGINT) AS n_both,
  CAST(ma.n AS BIGINT) AS n_a, CAST(mb.n AS BIGINT) AS n_b,
  CAST(n_both * 1000000 // (ma.n + mb.n - n_both) AS BIGINT) AS jaccard_ppm,
  -- 128-bit: n_both·n_samples·1e6 passes 2^63 once samples reach ~1e8
  CAST((CAST(n_both AS HUGEINT) * n_samples * 1000000)
       // (CAST(ma.n AS HUGEINT) * mb.n) AS BIGINT) AS lift_ppm
FROM pairs
JOIN marg ma ON type_a = ma.p_type
JOIN marg mb ON type_b = mb.p_type
CROSS JOIN tot
""",
)
def taxa_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("otu_id"), "p_type"
    )
    st = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(part), "otu_id")
        .select("sample_id", "p_type")
        .distinct()
    )
    marg = st.groupBy("p_type").agg(F.count(F.lit(1)).alias("n"))
    tot = st.agg(F.countDistinct("sample_id").alias("n_samples"))
    a = st.select("sample_id", F.col("p_type").alias("type_a"))
    b = st.select(
        F.col("sample_id").alias("sid_b"), F.col("p_type").alias("type_b")
    )
    pairs = (
        a.join(b, (a.sample_id == b.sid_b) & (a.type_a < b.type_b))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ma = marg.select(F.col("p_type").alias("type_a"), F.col("n").alias("n_a"))
    mb = marg.select(F.col("p_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ma, "type_a")
        .join(mb, "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr(
                "CAST(n_both * 1000000 DIV (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                "CAST((CAST(n_both AS DECIMAL(38,0)) * n_samples * 1000000)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# rarefaction_curve — richness vs sequencing depth per sample (the
# comparison-page rarefaction PLOT; abundance_rarefaction normalizes at
# one depth, this sweeps depths). Deterministic proportional thinning
# in pure BIGINT (floor c·D/total): a taxon survives depth D when its
# thinned count is ≥ 1. Exact in both engines — no hypergeometric
# sampling, no RNG.
#
# Scale shape: the per-(sample, otu) aggregate is computed once; the
# depth sweep is an explode against a bounded literal array (4 rows
# per sample-otu), then a map-combined per-(sample, depth) count.
# ---------------------------------------------------------------------------

RAREFY_DEPTHS = (500, 1000, 2000, 4000)


@register(
    "rarefaction_curve",
    oracle=f"""
WITH {ABUNDANCE_CTE},
a AS (
  SELECT sample_id, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance GROUP BY sample_id, otu_id
),
tot AS (
  SELECT sample_id, CAST(sum(c) AS BIGINT) AS total FROM a GROUP BY sample_id
),
sweep AS (
  SELECT a.sample_id, otu_id, c, total, depth
  FROM a JOIN tot ON a.sample_id = tot.sample_id
  CROSS JOIN (SELECT unnest({list(RAREFY_DEPTHS)}) AS depth)
)
SELECT sample_id, CAST(depth AS BIGINT) AS depth,
  CAST(count(*) FILTER (WHERE c * depth // total >= 1) AS BIGINT)
    AS richness_at_depth,
  CAST(count(*) AS BIGINT) AS full_richness
FROM sweep
GROUP BY sample_id, depth
""",
)
def rarefaction_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    a = ab.groupBy("sample_id", "otu_id").agg(
        F.sum(F.col("cnt").cast("bigint")).alias("c")
    )
    tot = a.groupBy("sample_id").agg(F.sum("c").alias("total"))
    depths = F.explode(
        F.array(*[F.lit(d) for d in RAREFY_DEPTHS])
    ).alias("depth")
    sweep = a.join(tot, "sample_id").select(
        "sample_id", "c", "total", depths
    )
    return sweep.groupBy(
        "sample_id", F.col("depth").cast("bigint").alias("depth")
    ).agg(
        F.count(F.when(F.expr("c * depth DIV total") >= 1, F.lit(1)))
        .cast("bigint")
        .alias("richness_at_depth"),
        F.count(F.lit(1)).cast("bigint").alias("full_richness"),
    )


# ---------------------------------------------------------------------------
# otu_prevalence_spectrum — the occupancy-frequency distribution
# (core/satellite taxa classification): for each occupancy decile
# (share of samples an OTU occurs in, 0..10 where 10 = every sample),
# how many OTUs fall there and their abundance mass. The classic
# macroecology diagnostic on the abundance fact — bimodal spectra mean
# distinct core vs transient communities; reference analogue: the
# portal's taxonomy summary pages aggregate the same SampleOTU fact
# (public path ``bpaotu/otu/query.py``).
#
# Scale shape: per-OTU prevalence is one two-key distinct-count over
# the fact (map-side partial); the spectrum is an 11-row aggregate
# against a broadcast 1-row sample-count scalar. Occupancy decile is
# exact integer arithmetic (prev*10 DIV n = 10 only at full occupancy).
# ---------------------------------------------------------------------------


@register(
    "otu_prevalence_spectrum",
    oracle=f"""
WITH {ABUNDANCE_CTE},
prev AS (
  SELECT otu_id, count(DISTINCT sample_id) AS prevalence,
    CAST(round(sum(CAST(cnt AS DECIMAL(18,6))), 0) AS BIGINT) AS mass
  FROM abundance GROUP BY otu_id
),
ns AS (SELECT count(DISTINCT sample_id) AS n_samples FROM abundance)
SELECT CAST(prevalence * 10 // n_samples AS BIGINT) AS occupancy_decile,
  CAST(count(*) AS BIGINT) AS n_otus,
  CAST(min(prevalence) AS BIGINT) AS min_prevalence,
  CAST(max(prevalence) AS BIGINT) AS max_prevalence,
  CAST(sum(mass) AS BIGINT) AS abundance_mass
FROM prev, ns GROUP BY 1
""",
)
def otu_prevalence_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ab = abundance(spark, sf_dir)
    prev = ab.groupBy("otu_id").agg(
        F.countDistinct("sample_id").alias("prevalence"),
        F.round(F.sum(F.col("cnt").cast(DEC)), 0).cast("bigint").alias("mass"),
    )
    ns = ab.agg(F.countDistinct("sample_id").alias("n_samples"))
    return (
        prev.crossJoin(F.broadcast(ns))
        .groupBy(
            F.expr("CAST(prevalence * 10 DIV n_samples AS BIGINT)").alias(
                "occupancy_decile"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_otus"),
            F.min("prevalence").cast("bigint").alias("min_prevalence"),
            F.max("prevalence").cast("bigint").alias("max_prevalence"),
            F.sum("mass").cast("bigint").alias("abundance_mass"),
        )
    )


# ---------------------------------------------------------------------------
# beta_diversity_jaccard — presence/absence Jaccard dissimilarity,
# BLOCKED (reference: the comparison page offers multiple dissimilarity
# metrics over the same sample selection; Bray-Curtis above is the
# abundance-weighted one, Jaccard is its binary twin).
#     J(a,b) = 1 - |A ∩ B| / |A ∪ B|,   |A ∪ B| = r_a + r_b - |A ∩ B|
# where A is the OTU *set* of sample a (counts ignored).
#
# Determinism: intersection and union sizes are exact integers; the
# single double appears in the final rounded division.
#
# Scale shape: identical to beta_diversity_braycurtis — pairs form only
# inside (block = c_nationkey) over a filtered selection, the shared-OTU
# intersection joins per (block, otu_id), and the pair-completion join
# uses the same S² two-level sub-blocking so the largest nation splits
# into balanced cells. The oracle keeps the naive single-block form,
# proving the sub-blocked pair set identical.
# ---------------------------------------------------------------------------

_JC_FILTER = ContextualFilter.of([Pred("c_mktsegment", "eq", "MACHINERY")], "and")
_JC_SUB = 8


@register(
    "beta_diversity_jaccard",
    oracle=f"""
WITH {ABUNDANCE_CTE},
sel AS (
  SELECT c_custkey AS sample_id, c_nationkey AS block
  FROM customer WHERE {_JC_FILTER.sql()}
),
a AS (
  SELECT DISTINCT ab.sample_id, block, otu_id
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
),
rich AS (
  SELECT sample_id, block, count(*) AS r FROM a GROUP BY sample_id, block
),
inter AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         count(*) AS n_inter
  FROM a x JOIN a y
    ON x.otu_id = y.otu_id AND x.block = y.block
   AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
)
SELECT
  ra.sample_id AS sample_a,
  rb.sample_id AS sample_b,
  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_intersect,
  CAST(ra.r + rb.r - coalesce(i.n_inter, 0) AS BIGINT) AS n_union,
  CAST(round(1.0 - coalesce(i.n_inter, 0) * 1.0
             / (ra.r + rb.r - coalesce(i.n_inter, 0)), 4) AS DOUBLE)
    AS jaccard_dissim
FROM rich ra
JOIN rich rb ON ra.block = rb.block AND ra.sample_id < rb.sample_id
LEFT JOIN inter i ON i.sample_a = ra.sample_id AND i.sample_b = rb.sample_id
""",
)
def beta_diversity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sel = cust.filter(_JC_FILTER.column()).select(
        F.col("c_custkey").alias("sample_id"), F.col("c_nationkey").alias("block")
    )
    a = (
        abundance_selected(spark, sf_dir, sel, self_join=True)
        .select("sample_id", "block", "otu_id")
        .distinct()
    )
    rich = a.groupBy("sample_id", "block").agg(F.count(F.lit(1)).alias("r"))

    ax = a.select(
        "block", "otu_id", F.col("sample_id").alias("sample_a")
    )
    ay = a.select(
        F.col("block").alias("block_y"),
        F.col("otu_id").alias("otu_y"),
        F.col("sample_id").alias("sample_b"),
    )
    inter = (
        ax.join(
            ay,
            (ax.otu_id == ay.otu_y)
            & (ax.block == ay.block_y)
            & (ax.sample_a < ay.sample_b),
        )
        .groupBy("sample_a", "sample_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    S = _JC_SUB
    sub_vals = F.explode(F.array(*[F.lit(i) for i in range(S)]))
    ra = (
        rich.select(
            "block", F.col("sample_id").alias("sample_a"), F.col("r").alias("r_a")
        )
        .withColumn("sub_a", F.pmod(F.xxhash64("sample_a"), F.lit(S)).cast("int"))
        .withColumn("sub_b", sub_vals)
    )
    rb = (
        rich.select(
            F.col("block").alias("block_b"),
            F.col("sample_id").alias("sample_b"),
            F.col("r").alias("r_b"),
        )
        .withColumn("sub_b_own", F.pmod(F.xxhash64("sample_b"), F.lit(S)).cast("int"))
        .withColumn("sub_a_rep", sub_vals)
    )
    pairs = ra.join(
        rb,
        (ra.block == rb.block_b)
        & (ra.sub_a == rb.sub_a_rep)
        & (ra.sub_b == rb.sub_b_own)
        & (ra.sample_a < rb.sample_b),
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    n_union = F.col("r_a") + F.col("r_b") - n_inter
    return pairs.join(inter, ["sample_a", "sample_b"], "left").select(
        "sample_a",
        "sample_b",
        n_inter.cast("bigint").alias("n_intersect"),
        n_union.cast("bigint").alias("n_union"),
        F.round(1.0 - n_inter * 1.0 / n_union, 4)
        .cast("double")
        .alias("jaccard_dissim"),
    )


# ---------------------------------------------------------------------------
# sample_neighbors_topk — per-sample nearest neighbours by Bray-Curtis:
# the comparison page's "most similar samples" panel (reference: the
# dissimilarity matrix consumer that picks each sample's closest
# ecological matches). Composes the registered Bray-Curtis operator —
# its oracle embeds the component oracle as a CTE, so the two can never
# drift.
#
# Determinism: BC is already rounded to 4dp by the component; ranking
# orders by (bray_curtis ASC, neighbor ASC) — a total order.
#
# Scale shape: the pair table is block-bounded (see the component);
# symmetrizing doubles it; the top-k is one window over
# partition-by-sample — the partition count equals the sample
# selection, far above any executor count, and no partition exceeds
# (largest block size - 1) rows.
# ---------------------------------------------------------------------------

_NEIGHBOR_K = 3


@register(
    "sample_neighbors_topk",
    oracle=f"""
WITH bc AS ({ORACLES['beta_diversity_braycurtis']}),
sym AS (
  SELECT sample_a AS sample_id, sample_b AS neighbor, bray_curtis FROM bc
  UNION ALL
  SELECT sample_b AS sample_id, sample_a AS neighbor, bray_curtis FROM bc
),
ranked AS (
  SELECT sample_id, neighbor, bray_curtis,
    CAST(row_number() OVER (PARTITION BY sample_id
         ORDER BY bray_curtis ASC, neighbor ASC) AS INTEGER) AS rnk
  FROM sym
)
SELECT sample_id, neighbor, bray_curtis, rnk
FROM ranked WHERE rnk <= {_NEIGHBOR_K}
""",
)
def sample_neighbors_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # the composed BC pair table is read twice (both orientations of
    # the symmetrization) — checkpoint so the pair former runs once
    bc = beta_diversity_braycurtis(spark, sf_dir).localCheckpoint()
    sym = bc.select(
        F.col("sample_a").alias("sample_id"),
        F.col("sample_b").alias("neighbor"),
        "bray_curtis",
    ).unionAll(
        bc.select(
            F.col("sample_b").alias("sample_id"),
            F.col("sample_a").alias("neighbor"),
            "bray_curtis",
        )
    )
    w = Window.partitionBy("sample_id").orderBy(
        F.col("bray_curtis").asc(), F.col("neighbor").asc()
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _NEIGHBOR_K)
        .select("sample_id", "neighbor", "bray_curtis", "rnk")
    )


# ---------------------------------------------------------------------------
# otu_indicator_species — indicator-species analysis (Dufrêne &
# Legendre '97 IndVal): for every (environment group, OTU), specificity
# A (the group's share of the OTU's across-group mean abundance) times
# fidelity B (fraction of the group's samples containing the OTU);
# the top-5 indicators per group. The "which taxa characterize this
# environment" question bpaotu's comparison tooling feeds into.
# Environment group = c_mktsegment (the portal's environment facet).
#
# Determinism: every ratio is floored into integer micro/ppm units
# BEFORE the next stage consumes it (mean_micro → A_ppm → indval_ppm),
# so both engines do identical integer arithmetic end-to-end — the
# fixed-point discipline of the LM-loss operators; no double is ever
# rounded for the hash.
#
# Scale shape: two map-side-combined aggregates over the abundance fact
# (per (group, otu) mass/presence; per group sample counts), a rollup
# per otu for the cross-group total, and a top-5 window per group over
# per-group aggregates. Products are kept in 128-bit (DECIMAL(38,0) /
# HUGEINT) so no width assumption breaks at 1000x the fact.
# ---------------------------------------------------------------------------

_INDVAL_TOPK = 5


@register(
    "otu_indicator_species",
    oracle=f"""
WITH {ABUNDANCE_CTE},
ab2 AS (
  SELECT ab.sample_id, ab.otu_id, ab.cnt, c.c_mktsegment AS grp
  FROM abundance ab JOIN customer c ON ab.sample_id = c.c_custkey
),
ng AS (
  SELECT grp, CAST(count(DISTINCT sample_id) AS BIGINT) AS n_g
  FROM ab2 GROUP BY grp
),
go AS (
  SELECT grp, otu_id,
    CAST(round(sum(CAST(cnt AS DECIMAL(18,6))), 0) AS BIGINT) AS mass,
    CAST(count(DISTINCT sample_id) AS BIGINT) AS presence
  FROM ab2 GROUP BY grp, otu_id
),
mm AS (
  SELECT grp, otu_id, presence,
    CAST(CAST(mass AS HUGEINT) * 1000000 // n_g AS BIGINT) AS mean_micro,
    n_g
  FROM go JOIN ng USING (grp)
),
tot AS (
  SELECT otu_id, CAST(sum(mean_micro) AS BIGINT) AS tot_micro
  FROM mm GROUP BY otu_id
),
iv AS (
  SELECT grp, mm.otu_id,
    CAST(CAST(mean_micro AS HUGEINT) * 1000000 // tot_micro AS BIGINT)
      AS a_ppm,
    CAST(CAST(presence AS HUGEINT) * 1000000 // n_g AS BIGINT) AS b_ppm
  FROM mm JOIN tot ON mm.otu_id = tot.otu_id
  WHERE tot_micro > 0
),
scored AS (
  SELECT grp, otu_id, a_ppm, b_ppm,
    CAST(CAST(a_ppm AS HUGEINT) * b_ppm // 1000000 AS BIGINT)
      AS indval_ppm
  FROM iv
)
SELECT grp, otu_id, a_ppm, b_ppm, indval_ppm,
  CAST(row_number() OVER (PARTITION BY grp
       ORDER BY indval_ppm DESC, otu_id ASC) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= {_INDVAL_TOPK}
""",
)
def otu_indicator_species(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_mktsegment").alias("grp"),
    )
    ab2 = abundance(spark, sf_dir).join(maybe_broadcast(cust), "sample_id")
    ng = ab2.groupBy("grp").agg(
        F.countDistinct("sample_id").cast("bigint").alias("n_g")
    )
    go = ab2.groupBy("grp", "otu_id").agg(
        F.round(F.sum(F.col("cnt").cast(DEC)), 0).cast("bigint").alias("mass"),
        F.countDistinct("sample_id").cast("bigint").alias("presence"),
    )
    # NOTE(r15): a localCheckpoint barrier on mm was measured here
    # (interleaved same-JVM A/B, 3 pairs) and REVERTED — old 2.23 s vs
    # checkpointed 3.22 s min at sf0.1: the eager materialization job
    # serializes the two downstream aggregates that otherwise overlap,
    # and runtime exchange reuse already deduplicates most of the
    # static plan duplication for this shape.
    mm = go.join(F.broadcast(ng), "grp").select(
        "grp",
        "otu_id",
        "presence",
        "n_g",
        F.expr(
            "CAST(CAST(mass AS DECIMAL(38,0)) * 1000000 DIV n_g AS BIGINT)"
        ).alias("mean_micro"),
    )
    tot = mm.groupBy("otu_id").agg(
        F.sum("mean_micro").cast("bigint").alias("tot_micro")
    )
    iv = mm.join(tot, "otu_id").filter(F.col("tot_micro") > 0).select(
        "grp",
        "otu_id",
        F.expr(
            "CAST(CAST(mean_micro AS DECIMAL(38,0)) * 1000000 DIV tot_micro"
            " AS BIGINT)"
        ).alias("a_ppm"),
        F.expr(
            "CAST(CAST(presence AS DECIMAL(38,0)) * 1000000 DIV n_g AS BIGINT)"
        ).alias("b_ppm"),
    )
    scored = iv.withColumn(
        "indval_ppm",
        F.expr("CAST(CAST(a_ppm AS DECIMAL(38,0)) * b_ppm DIV 1000000 AS BIGINT)"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("indval_ppm").desc(), F.col("otu_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _INDVAL_TOPK)
        .select("grp", "otu_id", "a_ppm", "b_ppm", "indval_ppm", "rnk")
    )


# ---------------------------------------------------------------------------
# core_microbiome — the cross-environment core: OTUs whose per-
# environment sample prevalence clears a floor in EVERY environment
# (Shade & Handelsman's core-microbiome concept; the portal's
# "ubiquitous taxa" view). Prevalence is exact integer ppm; the
# "every environment" test is min-over-groups, and mean prevalence is
# a 128-bit floor over the fixed group count.
#
# Scale shape: two map-side-combined aggregates (per (grp, otu)
# presence; per grp sample counts broadcast back), then a per-otu
# rollup whose key is the OTU — no windows, no pairs.
# ---------------------------------------------------------------------------

_CORE_TOPK = 20  # ranking, not an absolute gate: prevalence dilutes as
# the OTU universe grows with scale, so a fixed ppm floor would go
# vacuously empty at larger SFs — the core is the TOP of the
# min-across-environments ordering


@register(
    "core_microbiome",
    oracle=f"""
WITH {ABUNDANCE_CTE},
ab2 AS (
  SELECT DISTINCT ab.sample_id, ab.otu_id, c.c_mktsegment AS grp
  FROM abundance ab JOIN customer c ON ab.sample_id = c.c_custkey
),
ng AS (
  SELECT grp, CAST(count(DISTINCT sample_id) AS BIGINT) AS n_g
  FROM ab2 GROUP BY grp
),
n_env AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ng),
prev AS (
  SELECT grp, otu_id,
    CAST(CAST(count(DISTINCT sample_id) AS HUGEINT) * 1000000 // n_g
         AS BIGINT) AS prev_ppm
  FROM ab2 JOIN ng USING (grp)
  GROUP BY grp, otu_id, n_g
),
core AS (
  SELECT otu_id,
    CAST(count(*) AS BIGINT) AS n_envs_present,
    CAST(min(prev_ppm) AS BIGINT) AS min_prev_ppm,
    CAST(max(prev_ppm) AS BIGINT) AS max_prev_ppm,
    CAST(CAST(sum(prev_ppm) AS HUGEINT) // k AS BIGINT) AS mean_prev_ppm
  FROM prev, n_env
  GROUP BY otu_id, k
)
SELECT otu_id, n_envs_present, min_prev_ppm, max_prev_ppm, mean_prev_ppm,
  CAST(row_number() OVER (ORDER BY min_prev_ppm DESC, mean_prev_ppm DESC,
       otu_id ASC) AS INTEGER) AS rnk
FROM core, n_env
WHERE n_envs_present = k
QUALIFY rnk <= {_CORE_TOPK}
""",
)
def core_microbiome(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_mktsegment").alias("grp"),
    )
    ab2 = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(cust), "sample_id")
        .select("sample_id", "otu_id", "grp")
        .distinct()
    )
    ng = ab2.groupBy("grp").agg(
        F.countDistinct("sample_id").cast("bigint").alias("n_g")
    )
    n_env = ng.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    prev = (
        ab2.join(F.broadcast(ng), "grp")
        .groupBy("grp", "otu_id", "n_g")
        .agg(F.countDistinct("sample_id").alias("p"))
        .select(
            "grp",
            "otu_id",
            F.expr(
                "CAST(CAST(p AS DECIMAL(38,0)) * 1000000 DIV n_g AS BIGINT)"
            ).alias("prev_ppm"),
        )
    )
    core = (
        prev.groupBy("otu_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_envs_present"),
            F.min("prev_ppm").cast("bigint").alias("min_prev_ppm"),
            F.max("prev_ppm").cast("bigint").alias("max_prev_ppm"),
            F.sum("prev_ppm").alias("sum_ppm"),
        )
        .crossJoin(F.broadcast(n_env))
        .filter(F.col("n_envs_present") == F.col("k"))
    )
    scored = core.select(
        "otu_id",
        "n_envs_present",
        "min_prev_ppm",
        "max_prev_ppm",
        F.expr("CAST(CAST(sum_ppm AS DECIMAL(38,0)) DIV k AS BIGINT)").alias(
            "mean_prev_ppm"
        ),
    )
    # top-20 cut: orderBy+limit (TakeOrderedAndProject) then rank the
    # bounded result — never a global sort of the candidate set
    from pyspark.sql import Window

    top = scored.orderBy(
        F.col("min_prev_ppm").desc(),
        F.col("mean_prev_ppm").desc(),
        F.col("otu_id").asc(),
    ).limit(_CORE_TOPK)
    # unpartitioned window bound: runs over the LIMIT-_CORE_TOPK cut
    w = Window.orderBy(
        F.col("min_prev_ppm").desc(),
        F.col("mean_prev_ppm").desc(),
        F.col("otu_id").asc(),
    )
    return top.withColumn("rnk", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# otu_niche_breadth — generalist-vs-specialist index per OTU: Shannon
# entropy of its abundance mass across environments (Levins' niche
# breadth, entropy form), in exact integer micro-nats with the
# text_token_entropy discipline — ln() floored once per DISTINCT mass
# value before any aggregation, so summation order can never flip the
# hash. Evenness normalizes by ln(K) (K = 5 environments, a
# compile-time constant in micro-nats). Specialists score ~0;
# uniform generalists score ~1e6 ppm.
#
# Scale shape: one map-side-combined (otu, env) mass aggregate, ln
# lookup joined on the distinct mass value, one otu-keyed re-agg. No
# windows, no pairs.
# ---------------------------------------------------------------------------

_NICHE_K = 5
_LN_K_MICRO = 1_609_437  # floor(ln(5) * 1e6)


@register(
    "otu_niche_breadth",
    oracle=f"""
WITH {ABUNDANCE_CTE},
ab2 AS (
  SELECT ab.otu_id, c.c_mktsegment AS grp,
    CAST(round(sum(CAST(ab.cnt AS DECIMAL(18,6))), 0) AS BIGINT) AS mass
  FROM abundance ab JOIN customer c ON ab.sample_id = c.c_custkey
  GROUP BY 1, 2
),
m2 AS (SELECT otu_id, grp, mass FROM ab2 WHERE mass > 0),
lnm AS (
  SELECT mass AS mval,
    CAST(floor(ln(CAST(mass AS DOUBLE)) * 1000000) AS BIGINT) AS ln_micro
  FROM (SELECT DISTINCT mass FROM m2)
),
per_otu AS (
  SELECT otu_id, CAST(sum(m2.mass) AS BIGINT) AS total_mass,
    CAST(count(*) AS BIGINT) AS n_envs,
    CAST(sum(m2.mass * ln_micro) AS BIGINT) AS sum_m_lnm
  FROM m2 JOIN lnm ON m2.mass = lnm.mval
  GROUP BY otu_id
),
nln AS (
  SELECT total_mass AS nval,
    CAST(floor(ln(CAST(total_mass AS DOUBLE)) * 1000000) AS BIGINT)
      AS lnn_micro
  FROM (SELECT DISTINCT total_mass FROM per_otu)
)
SELECT otu_id, total_mass, n_envs,
  CAST(total_mass * lnn_micro - sum_m_lnm AS BIGINT) AS nH_micronats,
  CAST(CAST(total_mass * lnn_micro - sum_m_lnm AS HUGEINT) * 1000000
       // (total_mass * {_LN_K_MICRO}) AS BIGINT) AS evenness_ppm
FROM per_otu JOIN nln ON per_otu.total_mass = nln.nval
""",
)
def otu_niche_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("sample_id"),
        F.col("c_mktsegment").alias("grp"),
    )
    ab2 = (
        abundance(spark, sf_dir)
        .join(maybe_broadcast(cust), "sample_id")
        .groupBy("otu_id", "grp")
        .agg(
            F.round(F.sum(F.col("cnt").cast(DEC)), 0)
            .cast("bigint")
            .alias("mass")
        )
        .filter(F.col("mass") > 0)
    )
    lnm = ab2.select("mass").distinct().select(
        F.col("mass").alias("mval"),
        F.floor(F.log(F.col("mass").cast("double")) * 1000000)
        .cast("bigint")
        .alias("ln_micro"),
    )
    per_otu = (
        ab2.join(F.broadcast(lnm), ab2.mass == lnm.mval)
        .groupBy("otu_id")
        .agg(
            F.sum("mass").cast("bigint").alias("total_mass"),
            F.count(F.lit(1)).cast("bigint").alias("n_envs"),
            F.sum(F.col("mass") * F.col("ln_micro"))
            .cast("bigint")
            .alias("sum_m_lnm"),
        )
    )
    nln = per_otu.select("total_mass").distinct().select(
        F.col("total_mass").alias("nval"),
        F.floor(F.log(F.col("total_mass").cast("double")) * 1000000)
        .cast("bigint")
        .alias("lnn_micro"),
    )
    nh = (F.col("total_mass") * F.col("lnn_micro") - F.col("sum_m_lnm")).cast(
        "bigint"
    )
    return (
        per_otu.join(F.broadcast(nln), per_otu.total_mass == nln.nval)
        .select(
            "otu_id",
            "total_mass",
            "n_envs",
            nh.alias("nH_micronats"),
            F.expr(
                f"CAST(CAST(total_mass * lnn_micro - sum_m_lnm AS DECIMAL(38,0))"
                f" * 1000000 DIV (total_mass * {_LN_K_MICRO}) AS BIGINT)"
            ).alias("evenness_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# map_tiles_pyramid — the zoom-dependent map layer behind the portal's
# sample map (reference: bpaotu's map page re-bins markers as the user
# zooms; public path bpaotu/otu/views.py map endpoints + map_binning_2d
# above): a 4-level tile pyramid over the same (acctbal × totalprice)
# plane, zoom 3 = the base grid, each parent tile the floor-halved
# child coordinate — i.e. a quadtree, built ONCE bottom-up. (The
# oracle floors via floor(x/2.0): DuckDB's integer `//` TRUNCATES
# toward zero — verified (-1)//2 = 0 — while shiftright floors.)
#
# Scale shape: the fact is scanned exactly once (the zoom-3
# aggregation, checkpointed — its size is bounded by the GRID, not the
# data); every coarser level re-aggregates the previous level's tiny
# tile table. Parent coords use arithmetic shiftright (= floor
# division by 2, matching DuckDB's floor `//` on negative bins too —
# integer `div` would truncate toward zero and disagree below zero).
# Sums (orders, cents) are re-aggregatable; that is WHY the pyramid
# carries counts and exact cents, not distinct-counts.
# ---------------------------------------------------------------------------


@register(
    "map_tiles_pyramid",
    oracle=f"""
WITH z3 AS (
  SELECT CAST(floor(c_acctbal / {_BIN_X}) AS BIGINT) AS tile_x,
         CAST(floor(o_totalprice / {_BIN_Y}) AS BIGINT) AS tile_y,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100, 0)
           AS BIGINT) AS price_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
z2 AS (
  SELECT CAST(floor(tile_x / 2.0) AS BIGINT) AS tile_x,
         CAST(floor(tile_y / 2.0) AS BIGINT) AS tile_y,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(sum(price_cents) AS BIGINT) AS price_cents
  FROM z3 GROUP BY 1, 2
),
z1 AS (
  SELECT CAST(floor(tile_x / 2.0) AS BIGINT) AS tile_x,
         CAST(floor(tile_y / 2.0) AS BIGINT) AS tile_y,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(sum(price_cents) AS BIGINT) AS price_cents
  FROM z2 GROUP BY 1, 2
),
z0 AS (
  SELECT CAST(floor(tile_x / 2.0) AS BIGINT) AS tile_x,
         CAST(floor(tile_y / 2.0) AS BIGINT) AS tile_y,
         CAST(sum(n_orders) AS BIGINT) AS n_orders,
         CAST(sum(price_cents) AS BIGINT) AS price_cents
  FROM z1 GROUP BY 1, 2
)
SELECT 3 AS zoom, * FROM z3
UNION ALL SELECT 2, * FROM z2
UNION ALL SELECT 1, * FROM z1
UNION ALL SELECT 0, * FROM z0
""",
)
def map_tiles_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    z3 = (
        orders.join(
            maybe_broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy(
            F.floor(F.col("c_acctbal") / _BIN_X)
            .cast("bigint")
            .alias("tile_x"),
            F.floor(F.col("o_totalprice") / _BIN_Y)
            .cast("bigint")
            .alias("tile_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast(DEC)) * 100, 0)
            .cast("bigint")
            .alias("price_cents"),
        )
        # grid-bounded (never data-bounded); reused by the union AND
        # the z2 rollup — checkpoint so the fact scan runs once
        .localCheckpoint()
    )

    def up(child: DataFrame) -> DataFrame:
        return child.groupBy(
            F.expr("shiftright(tile_x, 1)").alias("tile_x"),
            F.expr("shiftright(tile_y, 1)").alias("tile_y"),
        ).agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("price_cents").cast("bigint").alias("price_cents"),
        )

    z2 = up(z3)
    z1 = up(z2)
    z0 = up(z1)
    lvl = lambda df, z: df.select(  # noqa: E731
        F.lit(z).alias("zoom"), "tile_x", "tile_y", "n_orders", "price_cents"
    )
    return (
        lvl(z3, 3)
        .unionAll(lvl(z2, 2))
        .unionAll(lvl(z1, 1))
        .unionAll(lvl(z0, 0))
    )


# ---------------------------------------------------------------------------
# contextual_filter_upset — the UpSet-plot census behind the portal's
# filter UI (reference builds each predicate via ContextualFilter,
# bpaotu/otu/query.py): for three contextual predicates A/B/C, count
# every membership COMBINATION (2³ cells) in one scan, so the user
# sees how the filters interact before intersecting them. The same
# Pred specs drive the Spark plan and the oracle (plans/filters.py
# single-source contract), and the flags are computed as columns —
# no scan-per-combination, no self-joins.
#
# Scale shape: one context scan with broadcast dims, a map-combined
# groupBy over ≤8 flag cells, a 1-row total broadcast for shares.
# ---------------------------------------------------------------------------

_UPSET_PREDS = (
    ("in_a", Pred("c_acctbal", "gt", 3000.0)),
    ("in_b", Pred("c_mktsegment", "in", ("BUILDING", "AUTOMOBILE"))),
    ("in_c", Pred("r_name", "eq", "ASIA")),
)


@register(
    "contextual_filter_upset",
    oracle=f"""
WITH {_CONTEXT_SQL},
flags AS (
  SELECT {", ".join(f"({p.sql()}) AS {name}" for name, p in _UPSET_PREDS)}
  FROM context
), cells AS (
  SELECT in_a, in_b, in_c, CAST(count(*) AS BIGINT) AS n_samples
  FROM flags GROUP BY in_a, in_b, in_c
), tot AS (
  SELECT CAST(sum(n_samples) AS BIGINT) AS total FROM cells
)
SELECT in_a, in_b, in_c, n_samples,
  n_samples * 1000000 // total AS share_ppm
FROM cells CROSS JOIN tot
""",
)
def contextual_filter_upset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ctx = sample_context(spark, sf_dir)
    flags = ctx.select(
        *[p.column().alias(name) for name, p in _UPSET_PREDS]
    )
    cells = flags.groupBy("in_a", "in_b", "in_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples")
    )
    tot = cells.agg(F.sum("n_samples").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "in_a",
        "in_b",
        "in_c",
        "n_samples",
        F.expr("n_samples * 1000000 div total").alias("share_ppm"),
    )
