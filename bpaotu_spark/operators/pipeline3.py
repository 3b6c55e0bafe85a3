"""Training-pipeline compositions, part 3: annealing mixtures and
per-source quality-threshold calibration.

Reference parity: the reference (public muccg/bpaotu) has no training
pipeline — these extend the mandated LLM-data-pipeline surface
(SURVEY.md §2) with the two curation decisions a 100 TB pretraining
run makes after the per-source masses and quality scores exist:
how to split the token budget across a two-phase (pretrain → anneal)
schedule, and where to put per-source quality thresholds so one
source's score distribution doesn't starve the others.

All arithmetic is integer fixed-point (milli rates, floor division,
DECIMAL(38,0) ↔ HUGEINT for the budget × mass products) so the Spark
result and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.functions.textops import (
    STOPWORDS_EN,
    TOKENIZE_SQL,
    _sql_strlist,
    tokenize,
)
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

# ---------------------------------------------------------------------------
# corpus_anneal_mixture — two-phase (pretrain → anneal) token budget
# per source. Public grounding: the "annealing / midtraining" recipe
# (Llama 3 tech report §3.4; MiniCPM) — a final ~10% of the token
# budget re-weighted toward the highest-quality sources. Semantics:
#   mass_s   = tokens in quality-passing docs of source s
#   B_total  = 2 × Σ mass (a two-epoch run), B2 = B_total/10 (anneal),
#              B1 = B_total − B2 (pretrain)
#   phase 1  : proportional to mass_s                (coverage phase)
#   eligible : pass_milli_s ≥ global pass_milli      (quality gate)
#   phase 2  : proportional to mass_s × pass_milli_s over eligible
#              sources only                          (anneal phase)
#   epochs_milli = 1000·(p1+p2)/mass_s — the repetition rate each
#              source actually sustains under the plan.
#
# Scale shape: one tokenize+filter scan, ONE groupBy(source) with
# map-side combine, then two broadcast crossJoins of 1-row global
# aggregates (M / p_glob, then W) — no shuffle beyond the source agg.
# Products reach budget(2e13) × mass(1e13) × milli(1e3) ≈ 1e29 at
# 100 TB: DECIMAL(38,0) in Spark, HUGEINT in DuckDB, floor-div to
# BIGINT at the end — exact in both engines.
# ---------------------------------------------------------------------------

_ANNEAL_EPOCHS = 2  # B_total = _ANNEAL_EPOCHS × total passing mass
_ANNEAL_FRAC_DIV = 10  # anneal budget = B_total // 10

_PASS_SQL = (
    f"(len(toks) BETWEEN 10 AND 100000 AND "
    f"len(list_filter(toks, x -> list_contains({_sql_strlist(STOPWORDS_EN)}, x)))"
    f" * 1.0 / len(toks) > 0.01)"
)


def _anneal_oracle() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, source, {TOKENIZE_SQL} AS toks FROM documents
),
d AS (
  SELECT source, len(toks) AS n_toks, {_PASS_SQL} AS passes FROM t
),
g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(*) FILTER (WHERE passes) AS BIGINT) AS n_pass,
    CAST(coalesce(sum(n_toks) FILTER (WHERE passes), 0) AS BIGINT) AS token_mass
  FROM d GROUP BY source
),
tot AS (
  SELECT CAST(sum(token_mass) AS HUGEINT) AS m,
    CAST(sum(n_pass) * 1000 // sum(n_docs) AS BIGINT) AS p_glob_milli
  FROM g
),
g2 AS (
  SELECT g.*, tot.m, tot.p_glob_milli,
    CAST(n_pass * 1000 // n_docs AS BIGINT) AS pass_milli
  FROM g CROSS JOIN tot
),
w AS (
  SELECT CAST(coalesce(sum(CAST(token_mass AS HUGEINT) * pass_milli)
    FILTER (WHERE pass_milli >= p_glob_milli), 0) AS HUGEINT) AS w
  FROM g2
)
SELECT source, n_docs, n_pass, token_mass, pass_milli,
  pass_milli >= p_glob_milli AS eligible_anneal,
  CAST(CASE WHEN m = 0 THEN 0 ELSE
    ((m * {_ANNEAL_EPOCHS} - m * {_ANNEAL_EPOCHS} // {_ANNEAL_FRAC_DIV})
     * token_mass) // m END AS BIGINT) AS phase1_tokens,
  CAST(CASE WHEN pass_milli >= p_glob_milli AND w > 0 THEN
    ((m * {_ANNEAL_EPOCHS} // {_ANNEAL_FRAC_DIV})
     * CAST(token_mass AS HUGEINT) * pass_milli) // w
    ELSE 0 END AS BIGINT) AS phase2_tokens,
  CAST(CASE WHEN token_mass = 0 THEN 0 ELSE
    (CASE WHEN m = 0 THEN 0 ELSE
      ((m * {_ANNEAL_EPOCHS} - m * {_ANNEAL_EPOCHS} // {_ANNEAL_FRAC_DIV})
       * token_mass) // m END
     + CASE WHEN pass_milli >= p_glob_milli AND w > 0 THEN
        ((m * {_ANNEAL_EPOCHS} // {_ANNEAL_FRAC_DIV})
         * CAST(token_mass AS HUGEINT) * pass_milli) // w ELSE 0 END)
    * 1000 // token_mass END AS BIGINT) AS epochs_milli
FROM g2 CROSS JOIN w
"""


@register("corpus_anneal_mixture", oracle=_anneal_oracle())
def corpus_anneal_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (pretrain → anneal) token allocation per source:
    phase 1 proportional to passing token mass, phase 2 (the final
    budget tenth) restricted to sources whose quality pass rate meets
    the global rate and weighted by mass × pass_milli."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    d = docs.select("source", toks.alias("toks")).select(
        "source",
        F.size("toks").alias("n_toks"),
        (
            F.size("toks").between(10, 100000)
            & (
                F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x)))
                * F.lit(1.0)
                / F.size("toks")
                > 0.01
            )
        ).alias("passes"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("passes"), F.lit(1))).cast("bigint").alias("n_pass"),
        F.coalesce(F.sum(F.when(F.col("passes"), F.col("n_toks"))), F.lit(0))
        .cast("bigint")
        .alias("token_mass"),
    )
    tot = g.agg(
        F.sum("token_mass").cast("decimal(38,0)").alias("m"),
        F.expr("CAST(sum(n_pass) * 1000 DIV sum(n_docs) AS BIGINT)").alias(
            "p_glob_milli"
        ),
    )
    g2 = g.crossJoin(F.broadcast(tot)).withColumn(
        "pass_milli", F.expr("CAST(n_pass * 1000 DIV n_docs AS BIGINT)")
    )
    w = g2.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("pass_milli") >= F.col("p_glob_milli"),
                    F.col("token_mass").cast("decimal(38,0)")
                    * F.col("pass_milli"),
                )
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("w")
    )
    b1 = (
        f"(m * {_ANNEAL_EPOCHS} - m * {_ANNEAL_EPOCHS} DIV {_ANNEAL_FRAC_DIV})"
    )
    b2 = f"(m * {_ANNEAL_EPOCHS} DIV {_ANNEAL_FRAC_DIV})"
    p1 = f"CASE WHEN m = 0 THEN 0 ELSE ({b1} * token_mass) DIV m END"
    p2 = (
        f"CASE WHEN pass_milli >= p_glob_milli AND w > 0 THEN "
        f"({b2} * CAST(token_mass AS DECIMAL(38,0)) * pass_milli) DIV w "
        f"ELSE 0 END"
    )
    return g2.crossJoin(F.broadcast(w)).select(
        "source",
        "n_docs",
        "n_pass",
        "token_mass",
        "pass_milli",
        (F.col("pass_milli") >= F.col("p_glob_milli")).alias("eligible_anneal"),
        F.expr(f"CAST({p1} AS BIGINT)").alias("phase1_tokens"),
        F.expr(f"CAST({p2} AS BIGINT)").alias("phase2_tokens"),
        F.expr(
            f"CAST(CASE WHEN token_mass = 0 THEN 0 ELSE "
            f"(({p1}) + ({p2})) * 1000 DIV token_mass END AS BIGINT)"
        ).alias("epochs_milli"),
    )


# ---------------------------------------------------------------------------
# quality_threshold_calibration — per-source quality thresholds vs one
# global threshold. Public grounding: FineWeb's per-dump filtering and
# CCNet's per-language perplexity buckets — a single corpus-wide score
# cutoff lets score-distribution shift between sources masquerade as
# quality difference; calibrating the cutoff per source keeps each
# source's survivor share comparable.
#
# Semantics (integer, tie-over-keeping, both engines identical):
#   score      = stop_milli = ⌊1000 · stopwords/words⌋ per doc
#   global T   = max milli m with |{score ≥ m}| ≥ ⌊N/2⌋
#   per-src T_s= max milli m with |{score ≥ m within s}| ≥ ⌊n_s/2⌋
#   keep_raw   = score ≥ T   (one corpus-wide cutoff)
#   keep_cal   = score ≥ T_s (source-calibrated cutoff)
# Output per source: both survivor counts and shares, plus the two
# thresholds — the drift between raw_share_milli and cal_share_milli
# IS the mis-calibration a global cutoff would impose.
#
# Scale shape: NO global sort of documents — thresholds come from
# score HISTOGRAMS (≤ 1001 distinct milli values), so the only
# unpartitioned window runs over a value-bounded frame (the same
# allowlisted class as the calendar-day windows); everything else is
# groupBy(source[, milli]) with map-side combine and two broadcast
# joins of the tiny threshold frames.
# ---------------------------------------------------------------------------

_STOP_MILLI_SQL = (
    f"CAST(len(list_filter(toks, x -> "
    f"list_contains({_sql_strlist(STOPWORDS_EN)}, x))) * 1000 "
    f"// len(toks) AS BIGINT)"
)


def _qtc_oracle() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, source, {TOKENIZE_SQL} AS toks FROM documents
),
q AS (
  SELECT source, {_STOP_MILLI_SQL} AS stop_milli FROM t
),
gh AS (
  SELECT stop_milli, CAST(count(*) AS BIGINT) AS cnt FROM q GROUP BY stop_milli
),
gc AS (
  SELECT stop_milli,
    CAST(sum(cnt) OVER (ORDER BY stop_milli DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ge,
    CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM gh
),
tg AS (
  SELECT CAST(max(stop_milli) AS BIGINT) AS t_global
  FROM gc WHERE cum_ge >= n // 2
),
sh AS (
  SELECT source, stop_milli, CAST(count(*) AS BIGINT) AS cnt
  FROM q GROUP BY source, stop_milli
),
sc AS (
  SELECT source, stop_milli,
    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY stop_milli DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_ge,
    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_s
  FROM sh
),
ts AS (
  SELECT source, CAST(max(stop_milli) AS BIGINT) AS t_source
  FROM sc WHERE cum_ge >= n_s // 2 GROUP BY source
)
SELECT q.source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(max(tg.t_global) AS BIGINT) AS t_global_milli,
  CAST(max(ts.t_source) AS BIGINT) AS t_source_milli,
  CAST(count(*) FILTER (WHERE q.stop_milli >= tg.t_global) AS BIGINT) AS n_keep_raw,
  CAST(count(*) FILTER (WHERE q.stop_milli >= ts.t_source) AS BIGINT) AS n_keep_cal,
  CAST(count(*) FILTER (WHERE q.stop_milli >= tg.t_global) * 1000 // count(*)
    AS BIGINT) AS raw_share_milli,
  CAST(count(*) FILTER (WHERE q.stop_milli >= ts.t_source) * 1000 // count(*)
    AS BIGINT) AS cal_share_milli
FROM q CROSS JOIN tg JOIN ts ON ts.source = q.source
GROUP BY q.source
"""


@register("quality_threshold_calibration", oracle=_qtc_oracle())
def quality_threshold_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor mix under one global median-score cutoff vs per-source
    calibrated cutoffs, per source — thresholds derived from bounded
    score histograms, never a corpus-wide sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    q = docs.select("source", toks.alias("toks")).select(
        "source",
        F.expr(
            "CAST(size(filter(toks, x -> array_contains("
            + "array("
            + ", ".join(f"'{w}'" for w in STOPWORDS_EN)
            + "), x))) * 1000 DIV size(toks) AS BIGINT)"
        ).alias("stop_milli"),
    )
    del stop_arr
    gh = q.groupBy("stop_milli").agg(F.count(F.lit(1)).alias("cnt"))
    w_ge = (
        Window.orderBy(F.col("stop_milli").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gc = gh.select(
        "stop_milli",
        F.sum("cnt").over(w_ge).cast("bigint").alias("cum_ge"),
        F.sum("cnt").over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    tg = gc.filter(F.col("cum_ge") >= F.expr("n DIV 2")).agg(
        F.max("stop_milli").cast("bigint").alias("t_global")
    )
    sh = q.groupBy("source", "stop_milli").agg(F.count(F.lit(1)).alias("cnt"))
    w_s = (
        Window.partitionBy("source")
        .orderBy(F.col("stop_milli").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sc = sh.select(
        "source",
        "stop_milli",
        F.sum("cnt").over(w_s).cast("bigint").alias("cum_ge"),
        F.sum("cnt").over(Window.partitionBy("source")).cast("bigint").alias("n_s"),
    )
    ts = (
        sc.filter(F.col("cum_ge") >= F.expr("n_s DIV 2"))
        .groupBy("source")
        .agg(F.max("stop_milli").cast("bigint").alias("t_source"))
    )
    return (
        q.crossJoin(F.broadcast(tg))
        .join(F.broadcast(ts), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("t_global").cast("bigint").alias("t_global_milli"),
            F.max("t_source").cast("bigint").alias("t_source_milli"),
            F.count(F.when(F.col("stop_milli") >= F.col("t_global"), F.lit(1)))
            .cast("bigint")
            .alias("n_keep_raw"),
            F.count(F.when(F.col("stop_milli") >= F.col("t_source"), F.lit(1)))
            .cast("bigint")
            .alias("n_keep_cal"),
            F.expr(
                "CAST(count(CASE WHEN stop_milli >= t_global THEN 1 END)"
                " * 1000 DIV count(*) AS BIGINT)"
            ).alias("raw_share_milli"),
            F.expr(
                "CAST(count(CASE WHEN stop_milli >= t_source THEN 1 END)"
                " * 1000 DIV count(*) AS BIGINT)"
            ).alias("cal_share_milli"),
        )
    )


# ---------------------------------------------------------------------------
# quality_score_auc — does the cheap score predict the expensive gate?
# Rank-based AUC (equivalently the Mann–Whitney U statistic, tie-
# corrected) of the stop_milli score against the passes_quality
# verdict: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) with average ranks for
# ties. Exact integers throughout: ranks come from the milli-score
# HISTOGRAM in halved units (2·avgrank = 2·cum_below + cnt + 1 — the
# same exact-tie idiom as the Weibull median ranks), so AUC_ppm is a
# pure integer ratio. This is the calibration check run before
# trusting a proxy score to stand in for a slower quality gate.
#
# Scale shape: one tokenize scan → groupBy(stop_milli) histogram
# (≤1001 rows — the value-bounded window class) → a 1-row finish.
# ---------------------------------------------------------------------------


@register(
    "quality_score_auc",
    oracle=f"""
WITH t AS (
  SELECT {TOKENIZE_SQL} AS toks FROM documents
),
q AS (
  SELECT {_STOP_MILLI_SQL} AS s, {_PASS_SQL} AS pos FROM t
),
h AS (
  SELECT s, CAST(count(*) AS BIGINT) AS cnt,
    CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS n_pos_v
  FROM q GROUP BY s
),
r AS (
  SELECT s, cnt, n_pos_v,
    2 * CAST(coalesce(sum(cnt) OVER (ORDER BY s ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      + cnt + 1 AS rank2
  FROM h
),
mo AS (
  SELECT CAST(sum(n_pos_v) AS BIGINT) AS n_pos,
    CAST(sum(cnt - n_pos_v) AS BIGINT) AS n_neg,
    CAST(sum(CAST(n_pos_v AS HUGEINT) * rank2) AS HUGEINT) AS r2_pos
  FROM r
)
SELECT n_pos, n_neg,
  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT)
    ELSE CAST((r2_pos - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) END AS auc_ppm
FROM mo
""",
)
def quality_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected rank AUC of the stopword-ratio score against the
    passes_quality gate: (n_pos, n_neg, auc_ppm; −1 when degenerate)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x)))
    q = docs.select(toks.alias("toks")).select(
        F.expr(
            "CAST(size(filter(toks, x -> array_contains(array("
            + ", ".join(f"'{w}'" for w in STOPWORDS_EN)
            + "), x))) * 1000 DIV size(toks) AS BIGINT)"
        ).alias("s"),
        (
            F.size("toks").between(10, 100000)
            & (n_stop * F.lit(1.0) / F.size("toks") > 0.01)
        ).alias("pos"),
    )
    h = q.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.count(F.when(F.col("pos"), F.lit(1)))
        .cast("bigint")
        .alias("n_pos_v"),
    )
    wv = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    r = h.select(
        "cnt",
        "n_pos_v",
        (2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0)) + F.col("cnt") + 1)
        .cast("bigint")
        .alias("rank2"),
    )
    mo = r.agg(
        F.sum("n_pos_v").cast("bigint").alias("n_pos"),
        F.sum(F.expr("cnt - n_pos_v")).cast("bigint").alias("n_neg"),
        F.sum(F.expr("CAST(n_pos_v AS DECIMAL(38,0)) * rank2")).alias(
            "r2_pos"
        ),
    )
    return mo.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(-1 AS BIGINT) "
            "ELSE CAST((r2_pos - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1))"
            " * 1000000 DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
            " AS BIGINT) END"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# pack_budget_sweep — the context-length PLANNING table: re-run the
# concat-and-chunk packing accounting (corpus_pack_sequences'
# construction) at budgets {512, 1024, 2048, 4096} and report, per
# budget, how many documents get split across a chunk boundary
# (attention-mask fragmentation — the cost of a short context) and
# the global fill efficiency (total tokens / (chunks × budget) — the
# cost of a long one). The table a training run reads before choosing
# sequence length.
#
# Scale shape: ONE token count + per-lang running offsets (the
# sharded-window construction, computed once), a broadcast 4-row
# budget grid, map-side-combined rollups; 4-row output.
# ---------------------------------------------------------------------------

_SWEEP_BUDGETS = (512, 1024, 2048, 4096)


@register(
    "pack_budget_sweep",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, len({TOKENIZE_SQL}) AS n_tokens FROM documents
),
run AS (
  SELECT doc_id, lang, n_tokens,
    CAST(COALESCE(sum(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS BIGINT) AS tok_before
  FROM t
),
grid AS (SELECT unnest([{", ".join(str(b) for b in _SWEEP_BUDGETS)}]) AS budget),
docs AS (
  SELECT budget,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(CASE WHEN tok_before % budget + n_tokens > budget
             THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split
  FROM run CROSS JOIN grid
  GROUP BY budget
),
langtot AS (
  SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total FROM t GROUP BY lang
),
chunks AS (
  SELECT budget,
    CAST(sum((total + budget - 1) // budget) AS BIGINT) AS n_chunks,
    CAST(sum(total) AS BIGINT) AS total_tokens
  FROM langtot CROSS JOIN grid
  GROUP BY budget
)
SELECT CAST(docs.budget AS BIGINT) AS budget, n_docs, n_docs_split,
  CAST(n_docs_split * 1000000 // n_docs AS BIGINT) AS split_ppm,
  n_chunks,
  CAST(total_tokens * 1000000 // (n_chunks * docs.budget) AS BIGINT)
    AS fill_ppm
FROM docs JOIN chunks ON chunks.budget = docs.budget
ORDER BY budget
""",
)
def pack_budget_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing sweep over budgets 512..4096: (budget, n_docs,
    n_docs_split, split_ppm, n_chunks, fill_ppm)."""
    from bpaotu_spark.functions.textops import tokenize
    from bpaotu_spark.operators.pipeline import packed_token_offsets

    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    run = packed_token_offsets(t, ["lang"]).localCheckpoint()
    grid = local_frame(
        spark, [(b,) for b in _SWEEP_BUDGETS], "budget bigint"
    )
    docs = (
        run.crossJoin(F.broadcast(grid))
        .groupBy("budget")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(
                    F.expr("tok_before % budget + n_tokens > budget"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs_split"),
        )
    )
    langtot = run.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("total")
    )
    chunks = (
        langtot.crossJoin(F.broadcast(grid))
        .groupBy("budget")
        .agg(
            F.sum(F.expr("(total + budget - 1) DIV budget"))
            .cast("bigint")
            .alias("n_chunks"),
            F.sum("total").cast("bigint").alias("total_tokens"),
        )
    )
    return (
        docs.join(chunks, "budget")
        .select(
            "budget",
            "n_docs",
            "n_docs_split",
            F.expr(
                "CAST(n_docs_split * 1000000 DIV n_docs AS BIGINT)"
            ).alias("split_ppm"),
            "n_chunks",
            F.expr(
                "CAST(total_tokens * 1000000 DIV (n_chunks * budget)"
                " AS BIGINT)"
            ).alias("fill_ppm"),
        )
        .orderBy("budget")
    )
