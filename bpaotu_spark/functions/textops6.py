"""Round-9 corpus/text operators: token-shape, commonness, split
contamination, boilerplate-prefix, and shingle-width diagnostics.

Reference parity: the reference portal's text surface is taxonomy
substring search (public path ``bpaotu/otu/views.py`` OTU search) —
these operators extend the engine's mandated LLM-data-pipeline family
on the ``documents`` table, per SURVEY.md §2.

* ``text_word_length_hist`` — token-length histogram per language
  (length band capped at 13+): the first thing a tokenizer audit
  plots; a language whose mass shifts bands between snapshots has a
  normalization regression.
* ``doc_commonness_profile`` — per-document mean corpus-frequency
  rank of its tokens (exact milli), censused into per-language bands:
  separates stopword-soup documents from rare-term documents — the
  quality signal TF-IDF-based filters threshold on.
* ``split_contamination_ngrams`` — word-8-gram contamination between
  the parity train/test split (heldout_oov_rate's split convention):
  share of held-out docs containing ANY 8-gram seen in train. The
  eval-integrity gate every LM training pipeline runs before trusting
  a benchmark number.
* ``boilerplate_prefix_census`` — documents grouped by their 16-char
  prefix; census of group sizes. Shared prefixes are the cheap
  boilerplate detector that runs before any shingle pass.
* ``corpus_shingle_size_sweep`` — corpus distinct/total shingle ratio
  at word widths 2/3/5: the knob-tuning curve for MinHash shingle
  width (too narrow → everything similar; too wide → nothing).

Determinism: counts, ranks and ratios are exact integers (ppm/milli
via floor-DIV); no floats anywhere in this module.

Scale shape: every operator is one-or-two map-combined aggregations
over an exploded token scan, shuffled on bounded keys (lang, gram,
prefix, token). The commonness rank window is vocabulary-bounded (a
natural-language vocab is millions of rows, not fact-scale) and the
rank join shuffles on the token key — no broadcast assumption on the
vocab. Contamination joins gram→gram (set-semantic distinct first, so
the join carries each gram once per side).
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

_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, lang, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, lang, {TOKENIZE_SQL} AS t FROM documents)
)
""".strip()


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.posexplode(tokenize(F.col("text"))).alias("pos", "tok"),
    )


# ---------------------------------------------------------------------------
# text_word_length_hist
# ---------------------------------------------------------------------------


@register(
    "text_word_length_hist",
    oracle=f"""
WITH {_TOKS_CTE}
SELECT lang, CAST(least(length(tok), 13) AS BIGINT) AS wlen,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
FROM toks GROUP BY lang, wlen ORDER BY lang, wlen
""",
)
def text_word_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, wlen 1..13+, n_tokens, n_distinct) token-length bands."""
    return (
        _toks(spark, sf_dir)
        .groupBy(
            "lang",
            F.least(F.length("tok"), F.lit(13)).cast("bigint").alias("wlen"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("tok").cast("bigint").alias("n_distinct"),
        )
        .orderBy("lang", "wlen")
    )


# ---------------------------------------------------------------------------
# doc_commonness_profile
# ---------------------------------------------------------------------------


@register(
    "doc_commonness_profile",
    oracle=f"""
WITH {_TOKS_CTE},
vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
),
rnk AS (
  SELECT tok,
    CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS r
  FROM vocab
),
d AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_toks,
    CAST(sum(r) AS BIGINT) AS sum_rank
  FROM toks JOIN rnk USING (tok) GROUP BY doc_id, lang
),
m AS (
  SELECT lang, sum_rank * 1000 // n_toks AS mean_rank_milli,
    n_toks, sum_rank
  FROM d
)
SELECT lang,
  CAST(least(mean_rank_milli // 5000, 9) AS BIGINT) AS band,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CAST(sum(sum_rank) AS HUGEINT) * 1000 // sum(n_toks)
    AS BIGINT) AS pooled_mean_rank_milli
FROM m GROUP BY lang, band ORDER BY lang, band
""",
)
def doc_commonness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean corpus-frequency rank (milli), banded per lang."""
    toks = _toks(spark, sf_dir)
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # unpartitioned window: vocabulary-bounded (distinct tokens, not
    # fact rows) — the single-task sort holds to ~1e8 vocab entries
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    rnk = vocab.select(
        "tok", F.row_number().over(w).cast("bigint").alias("r")
    )
    d = (
        toks.join(rnk, "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
            F.sum("r").cast("bigint").alias("sum_rank"),
        )
    )
    m = d.select(
        "lang",
        F.expr("sum_rank * 1000 div n_toks").alias("mean_rank_milli"),
        "n_toks",
        "sum_rank",
    )
    return (
        m.groupBy(
            "lang",
            F.expr("least(mean_rank_milli div 5000, CAST(9 AS BIGINT))")
            .cast("bigint")
            .alias("band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.expr(
                "CAST(CAST(sum(sum_rank) AS DECIMAL(38,0)) * 1000"
                " div sum(n_toks) AS BIGINT)"
            )
            .alias("pooled_mean_rank_milli"),
        )
        .orderBy("lang", "band")
    )


# ---------------------------------------------------------------------------
# split_contamination_ngrams
# ---------------------------------------------------------------------------

_CONTAM_N = 8

_GRAMS8_CTE = f"""
g8 AS (
  SELECT DISTINCT doc_id, lang,
    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
        || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
        || ' ' || lead(tok, 7) OVER w AS g
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok, 7) OVER w IS NOT NULL
)
""".strip()


@register(
    "split_contamination_ngrams",
    oracle=f"""
WITH {_TOKS_CTE},
{_GRAMS8_CTE},
train_g AS (
  SELECT DISTINCT g FROM g8 WHERE doc_id % 2 = 0
),
contaminated AS (
  SELECT DISTINCT g8.doc_id
  FROM g8 JOIN train_g USING (g)
  WHERE g8.doc_id % 2 = 1
),
test_docs AS (
  SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1
)
SELECT lang,
  CAST(count(*) AS BIGINT) AS n_test,
  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated,
  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
       // count(*) AS BIGINT) AS contamination_ppm
FROM test_docs t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
GROUP BY lang ORDER BY lang
""",
)
def split_contamination_ngrams(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Word-8-gram train→test contamination rate per language over
    the parity split (even doc_id = train, odd = test) — the
    benchmark-integrity check run before trusting any eval number."""
    toks = _toks(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, _CONTAM_N)]
    g8 = (
        toks.select(
            "doc_id",
            "lang",
            F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
            leads[-1].isNotNull().alias("full"),
        )
        .filter("full")
        .select("doc_id", "lang", "g")
        .distinct()
    )
    train_g = g8.filter("doc_id % 2 = 0").select("g").distinct()
    contaminated = (
        g8.filter("doc_id % 2 = 1")
        .join(train_g, "g")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_docs = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 2 = 1")
        .select("doc_id", "lang")
    )
    return (
        test_docs.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contaminated"),
        )
        .select(
            "lang",
            "n_test",
            "n_contaminated",
            F.expr("n_contaminated * 1000000 div n_test").alias(
                "contamination_ppm"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# boilerplate_prefix_census
# ---------------------------------------------------------------------------

_PREFIX_W = 16


@register(
    "boilerplate_prefix_census",
    oracle=f"""
WITH p AS (
  SELECT substr(text, 1, {_PREFIX_W}) AS pref,
    CAST(count(*) AS BIGINT) AS group_size
  FROM documents GROUP BY pref
)
SELECT group_size,
  CAST(count(*) AS BIGINT) AS n_groups,
  CAST(sum(group_size) AS BIGINT) AS n_docs
FROM p GROUP BY group_size ORDER BY group_size
""",
)
def boilerplate_prefix_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Census of shared-16-char-prefix group sizes — the O(scan)
    boilerplate smell test that runs before any shingle pass."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.groupBy(
        F.substring("text", 1, _PREFIX_W).alias("pref")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
    return (
        p.groupBy("group_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("group_size").cast("bigint").alias("n_docs"),
        )
        .orderBy("group_size")
    )


# ---------------------------------------------------------------------------
# corpus_shingle_size_sweep
# ---------------------------------------------------------------------------

_SHINGLE_WIDTHS = (2, 3, 5)


def _shingle_sql(w: int) -> str:
    joins = " || ' ' || ".join(
        ["tok"] + [f"lead(tok, {k}) OVER w" for k in range(1, w)]
    )
    return f"""
  SELECT CAST({w} AS BIGINT) AS w,
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct
  FROM (
    SELECT {joins} AS g
    FROM toks
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    QUALIFY lead(tok, {w - 1}) OVER w IS NOT NULL
  )
""".strip()


@register(
    "corpus_shingle_size_sweep",
    oracle=f"""
WITH {_TOKS_CTE},
sweep AS (
{" UNION ALL ".join(_shingle_sql(w) for w in _SHINGLE_WIDTHS)}
)
SELECT w, n_total, n_distinct,
  CAST(CAST(n_distinct AS HUGEINT) * 1000000 // n_total AS BIGINT)
  AS distinct_ppm
FROM sweep ORDER BY w
""",
)
def corpus_shingle_size_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus distinct/total word-shingle ratio at widths 2/3/5 — the
    MinHash shingle-width tuning curve."""
    toks = _toks(spark, sf_dir)
    w_win = Window.partitionBy("doc_id").orderBy("pos")
    parts = []
    for w in _SHINGLE_WIDTHS:
        leads = [F.lead("tok", k).over(w_win) for k in range(1, w)]
        grams = (
            toks.select(
                F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
                leads[-1].isNotNull().alias("full"),
            )
            .filter("full")
            .select("g")
        )
        parts.append(
            grams.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_total"),
                F.countDistinct("g").cast("bigint").alias("n_distinct"),
            ).select(
                F.lit(w).cast("bigint").alias("w"),
                "n_total",
                "n_distinct",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "w",
        "n_total",
        "n_distinct",
        F.expr(
            "CAST(CAST(n_distinct AS DECIMAL(38,0)) * 1000000"
            " div n_total AS BIGINT)"
        ).alias("distinct_ppm"),
    ).orderBy("w")


# ---------------------------------------------------------------------------
# dedup_savings_by_source — what exact dedup would save, per source:
# duplicate docs (non-keeper members of md5(text) groups, keeper =
# global min doc_id) and the chars they carry, as exact ppm of the
# source's corpus. The go/no-go number a pipeline reads before paying
# for the heavier near-dup passes.
# Scale shape: one md5 groupBy (map-combined), keeper join back on the
# hash key, per-source aggregate.
# ---------------------------------------------------------------------------


@register(
    "dedup_savings_by_source",
    oracle="""
WITH h AS (
  SELECT doc_id, source, n_chars, md5(text) AS text_hash
  FROM documents
),
g AS (
  SELECT text_hash, min(doc_id) AS keeper_id
  FROM h GROUP BY text_hash
),
d AS (
  SELECT source, n_chars,
    CASE WHEN doc_id != keeper_id THEN 1 ELSE 0 END AS is_dup
  FROM h JOIN g USING (text_hash)
)
SELECT source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
  CAST(sum(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END) AS BIGINT)
    AS chars_saved,
  CAST(CAST(sum(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END)
         AS HUGEINT) * 1000000 // sum(n_chars) AS BIGINT)
    AS savings_ppm
FROM d GROUP BY source ORDER BY source
""",
)
def dedup_savings_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-dedup savings per source (dup docs, chars, exact ppm)."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source", "n_chars", F.md5("text").alias("text_hash")
    )
    g = h.groupBy("text_hash").agg(F.min("doc_id").alias("keeper_id"))
    d = h.join(g, "text_hash").select(
        "source",
        "n_chars",
        F.expr(
            "CASE WHEN doc_id != keeper_id THEN 1 ELSE 0 END"
        ).alias("is_dup"),
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
            F.sum(
                F.expr("CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END")
            )
            .cast("bigint")
            .alias("chars_saved"),
        )
        .join(
            d.groupBy("source").agg(
                F.sum("n_chars").cast("bigint").alias("total_chars")
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "chars_saved",
            F.expr(
                "CAST(CAST(chars_saved AS DECIMAL(38,0)) * 1000000"
                " div total_chars AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# doc_length_quality_grid — joint census of length quartile × lexical-
# diversity quartile (rank-based quartiles, id tie-broken): the
# copula view that shows whether the two quality axes are redundant
# (mass on the diagonal) or independent (uniform grid) — decides
# whether a second filter earns its cost.
# Scale shape: two unpartitioned rank windows over documents (doc
# count, not token count — the bounded-by-corpus-rows class the repo's
# other global ranks document) + one 16-cell census.
# ---------------------------------------------------------------------------


@register(
    "doc_length_quality_grid",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars,
    CAST(len(list_distinct(tk)) AS BIGINT) * 1000000
      // CAST(len(tk) AS BIGINT) AS ratio_ppm
  FROM (SELECT doc_id, n_chars, {TOKENIZE_SQL} AS tk FROM documents)
),
q AS (
  SELECT doc_id,
    ((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 4)
      // count(*) OVER () AS len_q,
    ((row_number() OVER (ORDER BY ratio_ppm, doc_id) - 1) * 4)
      // count(*) OVER () AS div_q
  FROM t
)
SELECT CAST(len_q AS BIGINT) AS len_q, CAST(div_q AS BIGINT) AS div_q,
  CAST(count(*) AS BIGINT) AS n_docs
FROM q GROUP BY len_q, div_q ORDER BY len_q, div_q
""",
)
def doc_length_quality_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """4×4 census of (length quartile, distinct-token-ratio quartile)
    — rank-based quartiles, deterministic tie-breaks."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "n_chars",
        tokenize(F.col("text")).alias("tk"),
    ).select(
        "doc_id",
        "n_chars",
        F.expr(
            "CAST(size(array_distinct(tk)) AS BIGINT) * 1000000"
            " div CAST(size(tk) AS BIGINT)"
        ).alias("ratio_ppm"),
    )
    # unpartitioned windows: document-count-bounded global ranks (the
    # corpus-rows class, not token-exploded rows)
    wl = Window.orderBy("n_chars", "doc_id")
    wd = Window.orderBy("ratio_ppm", "doc_id")
    wn = Window.partitionBy()
    q = t.select(
        F.row_number().over(wl).alias("rl"),
        F.row_number().over(wd).alias("rd"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).select(
        F.expr("CAST((rl - 1) * 4 div n AS BIGINT)").alias("len_q"),
        F.expr("CAST((rd - 1) * 4 div n AS BIGINT)").alias("div_q"),
    )
    return (
        q.groupBy("len_q", "div_q")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("len_q", "div_q")
    )


# ---------------------------------------------------------------------------
# text_tile_dedup_census — fixed-width passage (tile) dedup census:
# each document splits into consecutive non-overlapping 20-word
# tiles, tiles are md5-hashed, and each SOURCE reports how much of
# its tile mass is duplicated. This is the passage-level sibling of
# whole-doc exact dedup (dedup_exact) and the cheap approximation of
# exact-substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): boilerplate that repeats
# INSIDE otherwise-distinct documents is invisible to doc-level
# hashing but dominates tile duplicates.
#
# Determinism: whitespace word split, fixed tile width, md5 of the
# space-joined tile — engine-identical strings. Docs shorter than one
# tile are filtered BEFORE sequence() (the r8 lesson: Spark
# sequence(0, -1) is a descending [0, -1], not empty).
#
# Scale shape: explode is ≤ words/20 rows per doc; the census is one
# groupBy(source) with two distinct aggregates — shuffle carries tile
# hashes once.
# ---------------------------------------------------------------------------

_TILE_W = 20


@register(
    "text_tile_dedup_census",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
ti AS (
  -- tile count derived from the data (unnest over a per-row range
  -- list), so arbitrarily long documents never exceed a fixed cap
  SELECT doc_id, source, ws,
    unnest(range(0, len(ws) // {_TILE_W})) AS k
  FROM w WHERE len(ws) >= {_TILE_W}
),
t AS (
  SELECT doc_id, source,
    md5(array_to_string(
      ws[CAST(k * {_TILE_W} + 1 AS INTEGER)
         :CAST(k * {_TILE_W} + {_TILE_W} AS INTEGER)], ' ')) AS th
  FROM ti
)
SELECT source,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_tiled,
  CAST(count(*) AS BIGINT) AS n_tiles,
  CAST(count(DISTINCT th) AS BIGINT) AS n_distinct_tiles,
  CAST((count(*) - count(DISTINCT th)) * 1000000 // count(*)
    AS BIGINT) AS dup_ratio_ppm
FROM t GROUP BY source ORDER BY source
""",
)
def text_tile_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 20-word-tile dedup census: (source, n_docs_tiled,
    n_tiles, n_distinct_tiles, dup_ratio_ppm)."""
    w = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("ws")
    )
    t = (
        w.filter(F.size("ws") >= _TILE_W)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.lit(0), F.expr(f"size(ws) div {_TILE_W}") - 1
                )
            ).alias("k"),
            "ws",
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.array_join(
                    F.slice(
                        "ws",
                        F.col("k") * _TILE_W + 1,
                        F.lit(_TILE_W),
                    ),
                    " ",
                )
            ).alias("th"),
        )
    )
    return (
        t.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_tiled"),
            F.count(F.lit(1)).cast("bigint").alias("n_tiles"),
            F.countDistinct("th").cast("bigint").alias("n_distinct_tiles"),
            F.expr(
                "CAST((count(*) - count(DISTINCT th)) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("dup_ratio_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# contamination_by_source — WHO leaks the test set: attribute each
# contaminated test document (shares a word-8-gram with train, parity
# split as split_contamination_ngrams) to the TRAIN source(s) whose
# documents carry the shared gram. split_contamination_ngrams answers
# "how contaminated is eval"; this answers the actionable follow-up —
# which ingestion source to fix or re-decontaminate first.
#
# Scale shape: the same distinct-8-gram semi-join as the split census
# (bounded by gram vocabulary, not corpus size), with train grams
# carrying their source; the two COUNT(DISTINCT) in one groupBy
# expand 2× but over the already-deduplicated hit pairs only.
# ---------------------------------------------------------------------------


@register(
    "contamination_by_source",
    oracle=f"""
WITH {_TOKS_CTE},
{_GRAMS8_CTE},
train_g AS (
  SELECT DISTINCT d.source, g8.g
  FROM g8 JOIN documents d USING (doc_id) WHERE g8.doc_id % 2 = 0
),
test_g AS (
  SELECT DISTINCT doc_id, g FROM g8 WHERE g8.doc_id % 2 = 1
),
per_src AS (
  SELECT tr.source,
    CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_test_docs_hit,
    CAST(count(DISTINCT t.g) AS BIGINT) AS n_leaked_grams
  FROM test_g t JOIN train_g tr ON tr.g = t.g
  GROUP BY tr.source
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test
  FROM documents WHERE doc_id % 2 = 1
)
SELECT source, n_test_docs_hit, n_leaked_grams,
  CAST(n_test_docs_hit * 1000000 // n_test AS BIGINT) AS hit_share_ppm
FROM per_src CROSS JOIN tot
ORDER BY source
""",
)
def contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per TRAIN source: distinct test docs it contaminates, distinct
    leaked 8-grams, and the share of the test set it touches (ppm)."""
    toks = _toks(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", k).over(w) for k in range(1, _CONTAM_N)]
    g8 = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *leads).alias("g"),
            leads[-1].isNotNull().alias("full"),
        )
        .filter("full")
        .select("doc_id", "g")
        .distinct()
    )
    docs = load_table(spark, sf_dir, "documents")
    train_g = (
        g8.filter("doc_id % 2 = 0")
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "g")
        .distinct()
    )
    test_g = g8.filter("doc_id % 2 = 1")
    per_src = (
        test_g.join(train_g, "g")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_test_docs_hit"),
            F.countDistinct("g").cast("bigint").alias("n_leaked_grams"),
        )
    )
    tot = docs.filter("doc_id % 2 = 1").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test")
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_test_docs_hit",
            "n_leaked_grams",
            F.expr(
                "CAST(n_test_docs_hit * 1000000 DIV n_test AS BIGINT)"
            ).alias("hit_share_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# stylometry_burrows_delta — Burrows' Delta (Burrows 2002, the standard
# stylometric distance) between SOURCES: each source's function-word
# profile (relative frequencies of the stopword list) is z-scored
# across sources per word, and Delta(s1, s2) = mean_w |z1 − z2|. Two
# sources with near-zero Delta share authorial/process fingerprints —
# the forensic companion to the content-based dedup family (a
# boilerplate generator shows up here even when content n-grams
# differ).
#
# Determinism: frequencies in exact milli; mean/variance across
# sources in exact integer sums; the only doubles are the final
# sqrt/division — IEEE-identical in both engines — floored to ppm.
# Words with zero cross-source variance are EXCLUDED (defined
# semantics, both engines).
#
# Scale shape: one tokenize scan → groupBy(source, word) with map-side
# combine (vocabulary = the fixed stopword list); everything after is
# |sources|² arithmetic on a frame of ≤ |sources|·|stopwords| rows.
# ---------------------------------------------------------------------------


def _burrows_oracle() -> str:
    stops = _sql_strlist(STOPWORDS_EN)
    return f"""
WITH t AS (
  SELECT source, unnest({TOKENIZE_SQL}) AS tok FROM documents
),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_toks FROM t GROUP BY source
),
cnt AS (
  SELECT source, tok AS w, CAST(count(*) AS BIGINT) AS c
  FROM t WHERE list_contains({stops}, tok)
  GROUP BY source, tok
),
grid AS (
  SELECT tot.source, w.w,
    CAST(coalesce(cnt.c, 0) * 1000000 // tot.n_toks AS BIGINT) AS f_ppm
  FROM tot CROSS JOIN (SELECT unnest({stops}) AS w) w
  LEFT JOIN cnt ON cnt.source = tot.source AND cnt.w = w.w
),
stats AS (
  SELECT w,
    CAST(count(*) AS BIGINT) AS ns,
    CAST(sum(f_ppm) AS HUGEINT) AS sf,
    CAST(sum(CAST(f_ppm AS HUGEINT) * f_ppm) AS HUGEINT) AS sf2
  FROM grid GROUP BY w
),
z AS (
  SELECT g.source, g.w,
    (g.f_ppm - CAST(s.sf AS DOUBLE) / s.ns)
      / sqrt(CAST(s.sf2 AS DOUBLE) / s.ns
             - (CAST(s.sf AS DOUBLE) / s.ns) * (CAST(s.sf AS DOUBLE) / s.ns))
      AS zv
  FROM grid g JOIN stats s ON s.w = g.w
  WHERE s.sf2 * s.ns > s.sf * s.sf
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(count(*) AS BIGINT) AS n_words_used,
    CAST(floor(avg(abs(a.zv - b.zv)) * 1000000) AS BIGINT) AS delta_ppm
  FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, n_words_used, delta_ppm
FROM pairs ORDER BY source_a, source_b
"""


@register("stylometry_burrows_delta", oracle=_burrows_oracle())
def stylometry_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources over the function-word profile:
    (source_a, source_b, n_words_used, delta_ppm)."""
    from bpaotu_spark.functions.textops import STOPWORDS_EN as _SW
    from bpaotu_spark.functions.textops import tokenize

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    tot = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks")
    )
    stop_arr = F.array(*[F.lit(w) for w in _SW])
    cnt = (
        t.filter(F.array_contains(stop_arr, F.col("tok")))
        .groupBy("source", F.col("tok").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    words = local_frame(spark, [(w,) for w in _SW], "w string")
    grid = (
        tot.crossJoin(F.broadcast(words))
        .join(F.broadcast(cnt), ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "CAST(coalesce(c, 0) * 1000000 DIV n_toks AS BIGINT)"
            ).alias("f_ppm"),
        )
    )
    stats = grid.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("f_ppm").cast("decimal(38,0)").alias("sf"),
        F.sum(F.expr("CAST(f_ppm AS DECIMAL(38,0)) * f_ppm")).alias("sf2"),
    )
    z = (
        grid.join(F.broadcast(stats), "w")
        .filter(F.expr("sf2 * ns > sf * sf"))
        .select(
            "source",
            "w",
            F.expr(
                "(f_ppm - CAST(sf AS DOUBLE) / ns)"
                " / sqrt(CAST(sf2 AS DOUBLE) / ns"
                "   - (CAST(sf AS DOUBLE) / ns) * (CAST(sf AS DOUBLE) / ns))"
            ).alias("zv"),
        )
    )
    a = z.select(
        F.col("source").alias("source_a"), "w", F.col("zv").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"),
        F.col("w").alias("wb"),
        F.col("zv").alias("zb"),
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("w") == F.col("wb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words_used"),
            F.expr(
                "CAST(floor(avg(abs(za - zb)) * 1000000) AS BIGINT)"
            ).alias("delta_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# corpus_good_turing — Good–Turing frequency re-estimation over the
# corpus unigram counts (Good 1953): the count-of-counts table N_r,
# the smoothed counts r* = (r+1)·N_{r+1}/N_r for r = 1..5, and the
# unseen-mass estimate p0 = N_1/N — what an LM pipeline reads to
# decide how much probability its smoothing must reserve for unseen
# tokens (the predictive companion to heldout_oov_rate's empirical
# measurement). All ratios exact integer milli/ppm.
#
# Scale shape: token groupBy (map-side combined) → count-of-counts
# groupBy over |vocab| rows → 6-row output with a broadcast 1-row
# total.
# ---------------------------------------------------------------------------


@register(
    "corpus_good_turing",
    oracle=f"""
WITH t AS (
  SELECT unnest({TOKENIZE_SQL}) AS tok FROM documents
),
c AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS r FROM t GROUP BY tok
),
n AS (
  SELECT CAST(sum(r) AS BIGINT) AS n_total FROM c
),
coc AS (
  SELECT r, CAST(count(*) AS BIGINT) AS n_types FROM c GROUP BY r
),
grid AS (SELECT unnest(range(6)) AS r),
g AS (
  SELECT grid.r, coalesce(coc.n_types, 0) AS n_types
  FROM grid LEFT JOIN coc ON coc.r = grid.r
),
nx AS (
  SELECT grid.r, coalesce(coc.n_types, 0) AS next_n_types
  FROM (SELECT unnest(range(6)) AS r) grid
  LEFT JOIN coc ON coc.r = grid.r + 1
)
SELECT CAST(g.r AS BIGINT) AS r, g.n_types, nx.next_n_types,
  CASE WHEN g.r = 0 OR g.n_types = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST((g.r + 1) * nx.next_n_types * 1000 // g.n_types
                 AS BIGINT) END AS r_star_milli,
  CASE WHEN g.r = 0
       THEN CAST(nx.next_n_types * 1000000 // (SELECT n_total FROM n)
                 AS BIGINT)
       ELSE CAST(g.r * g.n_types * 1000000 // (SELECT n_total FROM n)
                 AS BIGINT) END AS mass_ppm
FROM g JOIN nx ON nx.r = g.r
ORDER BY r
""",
)
def corpus_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing table for r = 0..5: (r, n_types, next_n_types,
    r_star_milli, mass_ppm) — row r=0 carries the unseen-mass
    estimate N_1/N in ppm."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    c = t.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    n = c.agg(F.sum("r").cast("bigint").alias("n_total"))
    coc = c.groupBy("r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    grid = local_frame(spark, [(i,) for i in range(6)], "r bigint")
    g = (
        grid.join(F.broadcast(coc), "r", "left")
        .select("r", F.coalesce("n_types", F.lit(0)).alias("n_types"))
    )
    nxc = coc.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("next_n_types"))
    nx = (
        grid.join(F.broadcast(nxc), "r", "left")
        .select("r", F.coalesce("next_n_types", F.lit(0)).alias("next_n_types"))
    )
    return (
        g.join(nx, "r")
        .crossJoin(F.broadcast(n))
        .select(
            "r",
            "n_types",
            "next_n_types",
            F.expr(
                "CASE WHEN r = 0 OR n_types = 0 THEN CAST(0 AS BIGINT)"
                " ELSE CAST((r + 1) * next_n_types * 1000 DIV n_types"
                " AS BIGINT) END"
            ).alias("r_star_milli"),
            F.expr(
                "CASE WHEN r = 0"
                " THEN CAST(next_n_types * 1000000 DIV n_total AS BIGINT)"
                " ELSE CAST(r * n_types * 1000000 DIV n_total AS BIGINT)"
                " END"
            ).alias("mass_ppm"),
        )
        .orderBy("r")
    )
