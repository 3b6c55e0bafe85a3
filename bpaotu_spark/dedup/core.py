"""Deduplication operators for LLM training-data pipelines.

Five dedup modes over the ``documents`` table (and ``embeddings`` for
the vector variant), all expressed as DataFrame plans with
deterministic md5-derived hashing so the DuckDB oracle reproduces every
bit — no random seeds, no Python UDFs:

- **exact**       — md5(raw text) group key.
- **ngram-jaccard** — word-3-gram inverted-index join (candidates share
  at least one shingle), exact Jaccard on distinct shingles.
- **minhash-LSH** — K=16 md5-permutation signatures (min over shingle
  hashes; hex strings compare like the integers they encode), banded
  into 8 bands × 2 rows; candidate pairs share ≥1 band bucket.
- **simhash**     — 32-bit simhash from per-token md5 nibbles; pairs
  within Hamming ≤ 3 found via 4×8-bit band blocking (pigeonhole:
  3 flipped bits cannot touch all 4 bands).
- **embedding**   — cosine near-dup pairs, blocked on the label column.

Scale shape: every pair-forming join is *blocked* — by shared shingle,
band bucket, or label — so pair candidates grow with block co-membership,
never as |table|². This is the standard shape for web-scale dedup
(MinHash banding as in Broder '97; SimHash banding as in Manku et al.
WWW'07), and each block join is an ordinary shuffle join Catalyst/AQE
can plan (skewed mega-buckets split by AQE skew-join handling).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from bpaotu_spark.catalog import load_table
from bpaotu_spark.functions.textops import (
    TOKENIZE_SQL,
    WINNOW_FPS_SQL,
    tokenize,
    word_ngrams,
)
from bpaotu_spark.registry import ORACLES, register

# SQL twin of the distinct word-3-gram set per document (window-lead
# form; the Spark side uses transform+slice — same resulting set).
NGRAMS_SQL = f"""
toks AS (
  SELECT doc_id, {TOKENIZE_SQL} AS t FROM documents
), ng AS (
  SELECT DISTINCT doc_id, tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS g
  FROM (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t,1) AS pos FROM toks)
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(tok,2) OVER w IS NOT NULL
)
""".strip()


def doc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, 3-gram) pairs.

    posexplode + window-lead rather than ``transform(sequence, slice)``:
    higher-order array lambdas are interpreted per element (outside
    whole-stage codegen) and benched ~10x slower than this exploded
    form, which stays fully codegen'd (one shuffle on doc_id).
    """
    from bpaotu_spark.catalog import widen_scan

    # widen BEFORE the explode (r16, guide §2.3/§2.5): the tokenize+
    # posexplode otherwise runs in the single-row-group scan's one
    # task, and the doc_id repartition pre-satisfies the window's
    # distribution, so the exchange moves from the exploded token
    # stream to the ~3x-smaller raw text rows; no-op on a scan that is
    # already parallel. A/B (plans/r17/dedup_widen_ab.json): faster in
    # total over the consumers; dedup_containment alone is slower.
    docs = widen_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t1, t2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", t1, t2).alias("g"),
            t2.isNotNull().alias("full"),
        )
        .filter("full")
        .select("doc_id", "g")
        .distinct()
    )


# ---------------------------------------------------------------------------
# dedup_exact — md5 hash-groupBy. One row per document with its group
# assignment, so the result is informative even with zero duplicates.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
WITH h AS (
  SELECT doc_id, md5(text) AS text_hash FROM documents
), g AS (
  SELECT text_hash, count(*) AS group_size, min(doc_id) AS keeper_id
  FROM h GROUP BY text_hash
)
SELECT doc_id, h.text_hash, group_size, keeper_id,
       (doc_id != keeper_id) AS is_duplicate
FROM h JOIN g ON h.text_hash = g.text_hash
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    groups = docs.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keeper_id")
    )
    return docs.join(groups, "text_hash").select(
        "doc_id",
        "text_hash",
        "group_size",
        "keeper_id",
        (F.col("doc_id") != F.col("keeper_id")).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — inverted-index candidate join + exact Jaccard.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.8

# Stop-shingle discipline: a shingle appearing in more documents than
# this is boilerplate — an uncapped bucket would collect_list millions
# of doc_ids into ONE task and explode m² pairs under adversarial
# duplication (web-scale boilerplate). Capped buckets bound any task at
# CAP ids / CAP² pairs. The cap is part of the operator's semantics
# (applied identically in the oracle), and its recall cost is measured
# empirically by dedup_lsh_recall_report. Driver-data max df is ~25,
# so at 100 the cap is output-neutral here while closing the 100 TB
# hazard.
NGRAM_DF_CAP = 100


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {NGRAMS_SQL},
sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
gdf AS (SELECT g, count(*) AS df FROM ng GROUP BY g),
ngk AS (
  SELECT ng.doc_id, ng.g FROM ng JOIN gdf USING (g)
  WHERE df BETWEEN 2 AND {NGRAM_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM ngk a JOIN ngk b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  CAST(round(shared * 1.0 / (x.n + y.n - shared), 4) AS DOUBLE) AS jaccard
FROM pairs
JOIN sz x ON doc_a = x.doc_id
JOIN sz y ON doc_b = y.doc_id
WHERE shared * 1.0 / (x.n + y.n - shared) >= {JACCARD_THRESHOLD}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact df-capped n-gram Jaccard pair table, STORE-SERVED
    (r13 VERDICT item 1): the inverted-index pair former (df-gated
    bucket-collect + double explode — shingle-blocked, never
    all-pairs) runs once per data fingerprint in :mod:`bpaotu_spark.
    dedup.sigstore`; the recall report and every truth consumer reads
    the published artifact. The oracle recomputes from scratch every
    round."""
    from bpaotu_spark.dedup.sigstore import jaccard_pairs_cached

    return jaccard_pairs_cached(spark, sf_dir)


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — universal-hash MinHash + banded LSH (Broder '97).
# ONE md5 per shingle yields a 32-bit integer x; the K "permutations"
# are h_i(x) = (a_i·x + b_i) mod P with fixed odd a_i and prime P —
# exact 64-bit integer arithmetic in both engines, and ~16x less hash
# work than md5-per-permutation (whose wide string-min codegen also
# proved JIT-fragile: measured 4s..256s swings).
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"

MINHASH_K = 16
LSH_BANDS = 8
ROWS_PER_BAND = MINHASH_K // LSH_BANDS
_MH_P = 4294967311  # prime > 2^32; a_i*x + b_i < 2^38 — exact in a signed 64
_MH_A = tuple(2 * i + 1 for i in range(MINHASH_K))
_MH_B = tuple(97 * i + 13 for i in range(MINHASH_K))

# 32-bit shingle hash from the first 8 md5 nibbles, in both dialects.
_SHINGLE_X_SQL = " + ".join(
    f"(strpos('{_HEX}', substr(md5(g), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


def _shingle_x_spark() -> Column:
    return F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("bigint")


def _sig_exprs_spark() -> list[Column]:
    return [
        F.min((F.lit(_MH_A[i]) * F.col("x") + F.lit(_MH_B[i])) % _MH_P).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]


def _sig_exprs_sql() -> str:
    return ",\n    ".join(
        f"min(({_MH_A[i]} * x + {_MH_B[i]}) % {_MH_P}) AS h{i}"
        for i in range(MINHASH_K)
    )


def _band_key_sql(b: int) -> str:
    cols = [
        f"CAST(h{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    ]
    return " || '|' || ".join(cols)


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band keys for ANY (doc_id, text) frame —
    the reusable signature step shared by the batch LSH operator and
    the incremental streaming dedup job. Documents shorter than 3
    tokens produce no shingles and drop out (no bands)."""
    from bpaotu_spark.catalog import widen_scan

    # widen BEFORE the explode (r16): parallelizes the tokenize and
    # pre-satisfies the shingle window's doc_id distribution (see
    # doc_ngrams); no-op on an already-parallel input
    docs = widen_scan(docs, "doc_id")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t1, t2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    ng = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", t1, t2).alias("g"),
            t2.isNotNull().alias("full"),
        )
        .filter("full")
        .select("doc_id", "g")
        .distinct()
        .withColumn("x", _shingle_x_spark())
    )
    sig = ng.groupBy("doc_id").agg(*_sig_exprs_spark())
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * ROWS_PER_BAND + r}")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("key"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )



# Same stop-bucket discipline as NGRAM_DF_CAP, applied to LSH band
# buckets: under adversarial duplication (millions of near-identical
# boilerplate docs) every copy lands in the SAME band bucket, and an
# uncapped bucket-collect materializes an m-sized array and m² pairs in
# one task. Buckets above the cap are dropped in both engines; the
# expected workflow collapses exact duplicates first (dedup_exact /
# corpus_clean_pipeline), after which a >CAP band bucket is
# overwhelmingly boilerplate. Recall impact is measured by
# dedup_lsh_recall_report. Driver-data max bucket is ~25 so the cap is
# output-neutral here.
LSH_BUCKET_CAP = 100


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {NGRAMS_SQL},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {_sig_exprs_sql()}
  FROM xs GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig" for b in range(LSH_BANDS))}
),
bsz AS (
  SELECT band, key, count(*) AS m FROM bands GROUP BY band, key
),
kept AS (
  SELECT bands.doc_id, bands.band, bands.key
  FROM bands JOIN bsz USING (band, key)
  WHERE m BETWEEN 2 AND {LSH_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM kept a JOIN kept b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucket-capped MinHash-LSH candidate pair table, STORE-SERVED
    (r13 VERDICT item 1): the pair former — bucket-collect + double
    explode over the persisted band table, never a corpus self-join —
    runs once per data fingerprint in :mod:`bpaotu_spark.dedup.
    sigstore` and every consumer (cluster CC, keep-first verdict,
    family reports, band sweep, recall report) reads the published
    artifact. The oracle recomputes from scratch, so the driver
    verifies the store-served pairs every round."""
    from bpaotu_spark.dedup.sigstore import lsh_pairs_cached

    return lsh_pairs_cached(spark, sf_dir)


# ---------------------------------------------------------------------------
# dedup_simhash — 32-bit simhash + Hamming ≤ 3 via 4×8-bit band blocking.
# Per-token 32-bit feature hash = first 8 hex nibbles of md5(token),
# decoded with strpos arithmetic (identical in both engines). 16 bits is
# too collision-prone on a shared-vocabulary corpus (1/3 of all pairs
# matched in testing); 32 bits keeps band buckets selective.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_BANDS = 4
HAMMING_MAX = 3

def _nibble_sql(expr: str, pos: int) -> str:
    return f"(strpos('{_HEX}', substr({expr}, {pos + 1}, 1)) - 1)"


_NIBBLES = SIMHASH_BITS // 4


def _feature_hash_sql() -> str:
    md5 = "md5(tok)"
    return " + ".join(
        f"{_nibble_sql(md5, i)} * {16 ** (_NIBBLES - 1 - i)}" for i in range(_NIBBLES)
    )


def _feature_hash_spark(tok: Column) -> Column:
    md5 = F.md5(tok)
    out = F.lit(0).cast("long")
    for i in range(_NIBBLES):
        nib = (F.instr(F.lit(_HEX), F.substring(md5, i + 1, 1)) - 1).cast("long")
        out = out + nib * (16 ** (_NIBBLES - 1 - i))
    return out


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) over ``docs`` (doc_id, text) — the per-doc
    signature pipeline shared by the batch pair former and the
    incremental index (a doc's simhash never depends on other docs,
    which is what makes the incremental restriction exact)."""
    from bpaotu_spark.catalog import widen_scan

    # widen BEFORE the explode (r16): parallel tokenize; the doc_id
    # hash layout satisfies the distinct's (doc_id, tok) clustered-
    # distribution requirement (subset rule), so the exchange moves
    # from the token stream to the raw text rows
    docs = widen_scan(docs, "doc_id")
    feat = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .distinct()
        .select("doc_id", _feature_hash_spark(F.col("tok")).alias("h"))
    )
    # One groupBy carrying 32 agg columns (codegen'd, map-side combined)
    # instead of exploding every feature row 32x: identical bit votes,
    # 1/32nd the shuffle volume. Literal shifts stay codegen'd.
    votes = feat.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash_col = sum(
        [
            F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIMHASH_BITS)
        ],
        F.lit(0),
    ).cast("long")
    return votes.select("doc_id", simhash_col.alias("simhash"))


def simhash_banded(sh: DataFrame) -> DataFrame:
    """(…input columns…, b, band_val) — the 8-bit band explode of a
    signature table. Pass-through of every input column beyond
    (doc_id, simhash) lets callers carry flags (e.g. the incremental
    index's is_new) through the explode without a recovery self-join
    (r13 ADVICE item 4)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.shiftright("simhash", b * 8).bitwiseAND(F.lit(255)).alias("bv"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    return sh.withColumn("bk", F.explode(band_structs)).select(
        *sh.columns,
        F.col("bk.b").alias("b"),
        F.col("bk.bv").alias("band_val"),
    )



@register(
    "dedup_simhash",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {TOKENIZE_SQL} AS toks FROM documents
), feat AS (
  SELECT DISTINCT doc_id, unnest(toks) AS tok FROM t
), fh AS (
  SELECT doc_id, {_feature_hash_sql()} AS h FROM feat
), bits AS (
  SELECT doc_id, j,
    sum(CASE WHEN (h // (1 << j)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM fh, (SELECT unnest(range({SIMHASH_BITS})) AS j)
  GROUP BY doc_id, j
), sh AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN v > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, b,
    (simhash >> (b * 8)) % 256 AS band_val
  FROM sh, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
)
SELECT DISTINCT
  x.doc_id AS doc_a, y.doc_id AS doc_b,
  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
FROM banded x JOIN banded y
  ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_MAX}
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded Hamming≤max SimHash pair table, STORE-SERVED (r13
    VERDICT item 1): the banded self-join — kept over bucket-collect
    because this corpus's simhashes cluster (measured 70 s vs 9 s) —
    runs once per data fingerprint in :mod:`bpaotu_spark.dedup.
    sigstore`; consumers read the published artifact. The oracle
    recomputes from scratch every round."""
    from bpaotu_spark.dedup.sigstore import simhash_pairs_cached

    return simhash_pairs_cached(spark, sf_dir)


# ---------------------------------------------------------------------------
# dedup_embedding — cosine near-dup pairs, blocked on label.
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.3  # synthetic embeddings: within-label max ~0.4


# The embeddings table's contract: fixed-width 64-dim vectors. The
# INTEGER vector-math helpers below unroll to plain arithmetic at a
# statically known width so WholeStageCodegen compiles them — the
# aggregate/zip_with fold is a HigherOrderFunction, which Catalyst
# always evaluates interpreted (measured x2.3-2.5 slower than the
# compiled unroll on 100k-pair scoring workloads, linear in width).
# The DOUBLE dot deliberately KEEPS the fold: a 64-term double chain
# crosses HotSpot's 8 KB huge-method threshold (measured cliff between
# 32 and 48 terms — the generated method never JITs and runs x1.5-3
# slower than the fold), and -XX:-DontCompileHugeMethods was measured
# and rejected session-wide (see session.py). Where an unroll IS used,
# the sum is left-associated from the same zero literal, so values —
# including every double bit — are identical to the fold and to
# DuckDB's sequential list_dot_product loop.
EMB_DIM = 64


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential dot product (same op order as DuckDB's
    list_dot_product loop, so doubles agree bit-for-bit). Default is
    the interpreted fold — for 64-dim doubles the unrolled chain hits
    the huge-method JIT cliff (see module note); pass a small ``dim``
    only for narrow arrays."""
    a, b = _as_col(a), _as_col(b)
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a[i] * b[i]
    return acc


def _seq_dot_arrow_fn(va, vb):  # pragma: no cover - exercised via queries
    """Arrow-vectorized DOUBLE dot with the SAME summation order as the
    interpreted fold and DuckDB's sequential ``list_dot_product`` loop:
    one left-associated accumulation pass per ascending dimension index
    (``acc += A[:,d] * B[:,d]``), each step an IEEE-754 double mul/add —
    so every output bit matches the fold (equality asserted over the
    full sf0.1 pair stream before adoption; np.dot/np.sum are NOT used
    because their pairwise/BLAS summation reorders the adds). Third
    measured point of the module's vector-math policy: on the 200k-pair
    label-blocked cosine stream this scores ~1.6x faster than the
    interpreted fold, where the 64-term codegen unroll was the one
    measured-rejected for doubles (JIT huge-method cliff, see below)."""
    import numpy as np
    import pandas as pd

    A = np.vstack(va.to_numpy())
    B = np.vstack(vb.to_numpy())
    acc = np.zeros(len(A), dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return pd.Series(acc)


_SEQ_DOT_UDF = None


def seq_dot_arrow(a: Column, b: Column) -> Column:
    """The registered Arrow scorer (UDF object created lazily — the
    ``pandas_udf`` wrapper needs an active SparkSession, which does
    not exist at module import time in the driver's vanilla
    harness)."""
    global _SEQ_DOT_UDF
    if _SEQ_DOT_UDF is None:
        from pyspark.sql.types import DoubleType

        _SEQ_DOT_UDF = F.pandas_udf(_seq_dot_arrow_fn, DoubleType())
    return _SEQ_DOT_UDF(a, b)


def int_dot(a: Column, b: Column, dim: int | None = EMB_DIM) -> Column:
    """Exact integer dot product over quantized (LongType) arrays —
    the k-means/PQ grid arithmetic. Long addition is associative, so
    unrolling is value-identical to the fold for any order."""
    a, b = _as_col(a), _as_col(b)
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    acc: Column = F.lit(0).cast("long")
    for i in range(dim):
        acc = acc + a[i] * b[i]
    return acc


def grid_d2(a: Column, b: Column, dim: int | None = EMB_DIM) -> Column:
    """Exact integer squared L2 distance over quantized (LongType)
    arrays: sum((a_i - b_i)^2). Unrolled for static widths (codegen);
    fold fallback for unknown widths — identical values either way."""
    a, b = _as_col(a), _as_col(b)
    if dim is None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
    acc: Column = F.lit(0).cast("long")
    for i in range(dim):
        acc = acc + (a[i] - b[i]) * (a[i] - b[i])
    return acc


def int_norm2(a: Column, dim: int | None = EMB_DIM) -> Column:
    """Exact integer squared norm: sum(a_i^2) over a LongType array."""
    a = _as_col(a)
    if dim is None:
        return F.aggregate(
            a, F.lit(0).cast("long"), lambda acc, v: acc + v * v
        )
    return int_dot(a, a, dim)


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity. For pair joins prefer precomputing norm() per
    vector and dividing the pair dot by the norm product — one dot per
    pair instead of three."""
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


COSINE_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@register(
    "dedup_embedding",
    oracle=f"""
SELECT
  a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
  CAST(round({COSINE_SQL}, 4) AS DOUBLE) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # Norm once per vector (|table| folds), not once per pair (|pairs| folds):
    # cos = dot/(norm_a*norm_b) — identical arithmetic to the oracle formula.
    emb = emb.withColumn("nrm", norm(F.col("v")))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("nrm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nrm_b"),
    )
    # r15: Arrow-vectorized scorer, bit-identical to the fold (same
    # left-associated per-dimension order — see seq_dot_arrow); the
    # join stays the distributed label-blocked shape
    cos = seq_dot_arrow(F.col("va"), F.col("vb")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    return (
        a.join(b, (a.label == b.label_b) & (a.vec_a < b.vec_b))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "label",
            F.round(F.col("cos"), 4).cast("double").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_cluster_cc — duplicate-cluster assignment: connected components
# over the MinHash-LSH candidate-pair graph (cluster id = min doc_id in
# the component). The step after pair generation in every web-scale
# dedup pipeline: pairs say "these two match", components say "keep one
# representative per group".
#
# Spark side: the two-phase large-star/small-star algorithm (Kiveris
# et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
# each round is two groupBy+join passes that rewire every node toward
# its neighborhood minimum, converging to disjoint stars (center = the
# component's min id) in O(log n) rounds REGARDLESS of graph diameter,
# where plain one-hop label propagation needs diameter rounds. A
# driver loop with a convergence action is the standard Spark shape
# for iterative graph algorithms; lineage is cut by localCheckpoint
# each round (checkpoint() to durable storage on a cluster).
# Oracle: recursive-CTE transitive closure with the same min-label
# definition — exponential in component size, viable because dup
# components are small; the Spark loop is the scale path.
# ---------------------------------------------------------------------------

_MINHASH_PAIR_CTES = f"""{{ngrams}},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {{sig_exprs}}
  FROM xs GROUP BY doc_id
),
bands AS (
  {{band_union}}
),
bsz AS (
  SELECT band, key, count(*) AS m FROM bands GROUP BY band, key
),
kept AS (
  SELECT bands.doc_id, bands.band, bands.key
  FROM bands JOIN bsz USING (band, key)
  WHERE m BETWEEN 2 AND {{bucket_cap}}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)"""


def _minhash_pair_ctes() -> str:
    return _MINHASH_PAIR_CTES.format(
        ngrams=NGRAMS_SQL,
        sig_exprs=_sig_exprs_sql(),
        band_union=" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig"
            for b in range(LSH_BANDS)
        ),
        bucket_cap=LSH_BUCKET_CAP,
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node links its LARGER neighbors to its
    neighborhood minimum. Input/output edges are canonical (u > v)."""
    nbr = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbr.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        # emitted (v, m): v > u >= m, so the canonical orientation holds
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links its smaller neighbors (and itself)
    to the minimum among them. Input/output canonical (u > v)."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))  # m < u by canon
    rewired = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return rewired.union(centers).distinct()


def _edge_signature(edges: DataFrame):
    """Order-insensitive set signature for the convergence test: one
    tiny aggregation instead of a full except-join each round."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # xor-fold never overflows (ANSI mode); edges are distinct so
        # no self-cancellation
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).collect()[0]
    return row.n, row.h


def star_connected_components(
    pairs: DataFrame, a: str, b: str, max_rounds: int = 15
) -> DataFrame:
    """Connected components of an undirected pair graph via alternating
    large-star/small-star rounds. Returns (node, component) where the
    component id is the minimum node id in the component. Round count
    is O(log n) regardless of graph diameter."""
    # canonical undirected edges: u = hi id, v = lo id, no self-loops
    edges = (
        pairs.filter(F.col(a) != F.col(b))
        .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .distinct()
        .localCheckpoint()  # pair generation runs once, not once per round
    )
    sig = _edge_signature(edges)
    converged = False
    for _ in range(max_rounds):  # dup graphs converge in 2-3 rounds
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _edge_signature(edges)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # returning non-fixed-point edges would silently mislabel
        # components; star CC needs O(log n) rounds, so exhaustion
        # means max_rounds is far too low for the graph at hand.
        raise RuntimeError(
            f"star_connected_components did not reach a fixed point in "
            f"{max_rounds} rounds; raise max_rounds"
        )
    # fixed point = disjoint stars: (member, center) edges with the
    # center = component min; centers label themselves
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(edges.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


@register(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_a, doc_a FROM pairs
  UNION SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
""",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CC labels are store-served (sigstore.cc_labels_cached): the
    # O(log n) star rounds run once per data fingerprint; the oracle's
    # recursive closure recomputes from scratch every round
    from bpaotu_spark.dedup.sigstore import cc_labels_cached

    labels = cc_labels_cached(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    w = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id", "cluster_id", F.count(F.lit(1)).over(w).alias("cluster_size")
    )


# ---------------------------------------------------------------------------
# dedup_embedding_lsh — near-dup pairs blocked by CONTENT (sign-LSH
# bucket of the first SIGN bits), not by a given attribute: the shape
# for corpora with no label column. Candidates share a bucket; recall
# is tuned by bucket width exactly as in ann_lsh_topk.
# ---------------------------------------------------------------------------

_EMB_LSH_DIMS = 4


def _emb_bucket_sql(col: str) -> str:
    bits = " || ".join(
        f"(CASE WHEN {col}.embedding[{i + 1}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(_EMB_LSH_DIMS)
    )
    return f"({bits})"


def _emb_bucket(v: Column) -> Column:
    """Spark twin of :func:`_emb_bucket_sql`: the sign-bit bucket key."""
    return F.concat(
        *[
            F.when(v[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(_EMB_LSH_DIMS)
        ]
    )


# The sign-bucket self-join has only 2^SIGN distinct keys (16 here) —
# a plain shuffle join caps reduce-side parallelism at 16 tasks, and
# locally AQE coalesces the byte-small exchange to ONE task while the
# real cost is the O(n²/buckets) cosine arithmetic (the round-5 4×
# regression). SALT the join: the probe side carries salt = vec_id mod
# S, the build side is replicated S× with every salt value, and both
# sides are explicitly hash-repartitioned on (bucket, salt) — 16×S
# reduce keys, user-specified partition count that AQE never
# coalesces. S× row replication of ONE side buys S× parallelism: the
# standard skew-salting trade, and the same plan holds on a 1000-
# executor cluster (no corpus broadcast anywhere).
_LSH_SALT = 8
_LSH_JOIN_PARTS = 64


def _salted_self_join_sides(emb: DataFrame, id_a: str, id_b: str):
    """(a, b) sides of the salted sign-bucket self-join; join on
    ``(bucket == bucket_b) & (salt == salt_b)`` plus the id predicate,
    then drop the salt columns."""
    a = (
        emb.select(
            F.col("vec_id").alias(id_a),
            "bucket",
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        .withColumn("salt", F.pmod(F.col(id_a), F.lit(_LSH_SALT)).cast("int"))
        .repartition(_LSH_JOIN_PARTS, "bucket", "salt")
    )
    b = (
        emb.select(
            F.col("vec_id").alias(id_b),
            F.col("bucket").alias("bucket_b"),
            F.col("v").alias("vb"),
            F.col("nrm").alias("nb"),
        )
        .withColumn(
            "salt_b",
            F.explode(
                F.array(*[F.lit(i).cast("int") for i in range(_LSH_SALT)])
            ),
        )
        .repartition(_LSH_JOIN_PARTS, "bucket_b", "salt_b")
    )
    return a, b


@register(
    "dedup_embedding_lsh",
    oracle=f"""
SELECT
  a.vec_id AS vec_a, b.vec_id AS vec_b,
  {_emb_bucket_sql('a')} AS bucket,
  CAST(round({COSINE_SQL}, 4) AS DOUBLE) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON {_emb_bucket_sql('a')} = {_emb_bucket_sql('b')} AND a.vec_id < b.vec_id
WHERE {COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
""",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The sign-LSH pair table is store-served (sigstore.emb_pairs_cached):
    # the salted bucket self-join runs once per data fingerprint; the
    # oracle recomputes the pairs from scratch every round.
    from bpaotu_spark.dedup.sigstore import emb_pairs_cached

    return emb_pairs_cached(spark, sf_dir)


def emb_lsh_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH cosine pair FORMER (the store build job):
    (vec_a, vec_b, bucket, cos_sim) over salted bucket blocks."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn("bucket", _emb_bucket(F.col("v"))).withColumn(
        "nrm", norm(F.col("v"))
    )
    a, b = _salted_self_join_sides(emb, "vec_a", "vec_b")
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b,
            (a.bucket == b.bucket_b)
            & (a.salt == b.salt_b)
            & (a.vec_a < b.vec_b),
        )
        .filter(cos >= COSINE_DUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            F.round(cos, 4).cast("double").alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_near_dedup_keep_first — the end-to-end near-dedup decision a
# training pipeline actually ships: MinHash-LSH candidate pairs →
# connected components → keep exactly one representative (the min
# doc_id) per duplicate cluster. One row per corpus document with its
# cluster assignment and the keep/drop verdict, so the downstream
# shard writer is a single filter on is_kept.
#
# Scale shape: the pair graph + star CC run on the (small) paired
# subset only; the corpus-wide join back is a single shuffle (AQE
# broadcasts the label side when the duplicate set is small, the
# common case). Unpaired documents never enter the CC loop.
# ---------------------------------------------------------------------------


@register(
    "corpus_near_dedup_keep_first",
    oracle=f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
  UNION SELECT doc_a, doc_a FROM pairs
  UNION SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT
  d.doc_id,
  COALESCE(comp.cluster_id, d.doc_id) AS cluster_id,
  (COALESCE(comp.cluster_id, d.doc_id) = d.doc_id) AS is_kept
FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
""",
)
def corpus_near_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the verdict reads the store-served CC labels (one star-CC run per
    # data fingerprint, shared with dedup_cluster_cc and every census)
    from bpaotu_spark.dedup.sigstore import cc_labels_cached

    labels = cc_labels_cached(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_kept", F.col("cluster_id") == F.col("doc_id"))
    )


# ---------------------------------------------------------------------------
# corpus_semantic_dedup_keep_first — the embedding-space analogue of
# corpus_near_dedup_keep_first: sign-LSH cosine near-dup pairs → star
# connected components → keep the min vec_id per semantic cluster. The
# verdict a pipeline applies AFTER textual near-dedup to catch
# paraphrases and translations that share no shingles.
#
# Scale shape identical to the textual verdict: pairs form only inside
# LSH buckets, the CC loop runs on the paired subset, and the
# corpus-wide label join is one shuffle (AQE broadcasts the label side
# when the duplicate set is small).
# ---------------------------------------------------------------------------


@register(
    "corpus_semantic_dedup_keep_first",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM embeddings a JOIN embeddings b
    ON {_emb_bucket_sql('a')} = {_emb_bucket_sql('b')} AND a.vec_id < b.vec_id
  WHERE {COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
),
edges AS (
  SELECT va AS src, vb AS dst FROM pairs
  UNION SELECT vb, va FROM pairs
  UNION SELECT va, va FROM pairs
  UNION SELECT vb, vb FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT
  e.vec_id,
  COALESCE(comp.cluster_id, e.vec_id) AS cluster_id,
  (COALESCE(comp.cluster_id, e.vec_id) = e.vec_id) AS is_kept
FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.vec_id
""",
)
def corpus_semantic_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the verdict reads the store-served semantic CC labels (one star-CC
    # run over the sign-LSH pair graph per data fingerprint, mirroring
    # the textual keep-first verdict's dedup_cc_labels read)
    from bpaotu_spark.dedup.sigstore import semantic_cc_labels_cached

    labels = semantic_cc_labels_cached(spark, sf_dir)
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        vecs.join(labels, vecs.vec_id == labels.node, "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster_id"),
        )
        .withColumn("is_kept", F.col("cluster_id") == F.col("vec_id"))
    )


# ---------------------------------------------------------------------------
# dedup_winnow_pairs — local-copy candidate pairs from shared winnowing
# fingerprints: two documents that share >= MIN_SHARED selected
# fingerprints contain matching token runs (the approximation of exact
# substring dedup, Lee et al. 2022, that actually distributes — suffix
# arrays don't shard; winnow inverted indexes do). Complements MinHash
# (whole-document resemblance) by catching a copied paragraph inside
# two otherwise-different documents.
#
# Scale shape: inverted-index self-join blocked on the fingerprint,
# with a document-frequency cap first — a boilerplate fingerprint
# shared by millions of documents would otherwise form a quadratic
# bucket; dropping df > WINNOW_DF_CAP fingerprints is the same
# stop-shingle discipline as the MinHash path and loses only
# uninformative matches.
# ---------------------------------------------------------------------------

WINNOW_DF_CAP = 50  # fingerprints in more docs than this are boilerplate
WINNOW_MIN_SHARED = 3


@register(
    "dedup_winnow_pairs",
    oracle=f"""
WITH {WINNOW_FPS_SQL},
dfreq AS (
  SELECT fingerprint, count(*) AS df FROM fps GROUP BY fingerprint
), keep AS (
  SELECT f.doc_id, f.fingerprint
  FROM fps f JOIN dfreq USING (fingerprint)
  WHERE df <= {WINNOW_DF_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM keep a JOIN keep b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {WINNOW_MIN_SHARED}
""",
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bpaotu_spark.functions.textops import text_winnow_fingerprints

    # fps (the posexplode -> two-windows -> distinct pipeline) used to
    # be recomputed for dfreq AND both self-join sides; one eager
    # localCheckpoint runs it once. The df cap still lands BEFORE any
    # list materialization (a boilerplate fingerprint must never build
    # an unbounded aggregation buffer), and the capped per-fingerprint
    # doc list then generates its <= C(WINNOW_DF_CAP, 2) ordered pairs
    # in-row, replacing the fingerprint self-join. The groupBy that
    # collects the list reuses the join's fingerprint partitioning, so
    # the whole pair former costs one exchange past dfreq.
    fps = text_winnow_fingerprints(spark, sf_dir).localCheckpoint()
    dfreq = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") <= WINNOW_DF_CAP) & (F.col("df") >= 2)
        )  # df=1 forms no pair; dropping it early prunes most of fps
    )
    grouped = (
        fps.join(dfreq, "fingerprint")
        .groupBy("fingerprint")
        .agg(F.collect_list("doc_id").alias("docs"))
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, a ->"
                " filter(transform(docs, b ->"
                " struct(a AS doc_a, b AS doc_b)),"
                " p -> p.doc_a < p.doc_b)))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# dedup_ngram_coverage — per-document duplicated-n-gram share.
#
# The per-doc signal behind exact-substring dedup (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): the
# fraction of a document's distinct word 3-grams that occur in at least
# one OTHER document. Documents dominated by corpus-repeated spans are
# near-copies or boilerplate even when no single pair-join fires.
#
# Scale shape: reuses the dedup_ngram_jaccard inverted index but never
# forms pairs — one df aggregation (full map-side combine) plus one
# join back on the gram key, then a per-doc aggregation. Strictly
# cheaper than any pairwise dedup at 100 TB; no window, no global sort.
# Integer ppm (DIV) keeps the verdict engine-exact.
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_coverage",
    oracle=f"""
WITH {NGRAMS_SQL},
dfreq AS (
  SELECT g, count(*) AS df FROM ng GROUP BY g
)
SELECT ng.doc_id,
  CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT) AS n_dup_grams,
  CAST((count(*) FILTER (WHERE df >= 2)) * 1000000 // count(*) AS BIGINT)
    AS dup_share_ppm
FROM ng JOIN dfreq USING (g)
GROUP BY ng.doc_id
""",
)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df counts DOCS per gram (doc_ngrams is distinct per doc), so
    df >= 2 means "seen elsewhere"; a doc repeating its own phrase does
    not count itself as a duplicate (that is text_repetition_ratio's
    job). Docs shorter than 3 tokens have no grams and drop out in both
    engines (inner join semantics, identical)."""
    ng = doc_ngrams(spark, sf_dir)
    dfreq = ng.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    dup = F.count(F.when(F.col("df") >= 2, F.lit(1)))
    return (
        ng.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.alias("n_dup_grams"),
            (dup * F.lit(1000000)).alias("dup_scaled"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.expr("CAST(dup_scaled DIV n_grams AS BIGINT)").alias(
                "dup_share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_lsh_recall_report — measure, don't guess: empirical recall of
# the MinHash-LSH candidate generator against exact n-gram Jaccard
# ground truth, per Jaccard decile band. This is the S-curve every
# LSH deployment should print before trusting its (bands, rows)
# parameters at 100 TB — low-similarity bands SHOULD be missed
# (that's the filter working), high-similarity bands must approach
# recall 1e6 ppm.
#
# Both inputs are the registered operators themselves (Spark side
# calls them; the oracle embeds their oracle SQL verbatim via CTEs),
# so the report can never drift from what the pipeline actually runs.
# Scale: a pair-keyed left join of two already-blocked pair tables.
# ---------------------------------------------------------------------------


def _lsh_recall_oracle() -> str:
    from bpaotu_spark.registry import ORACLES

    return f"""
WITH truth AS ({ORACLES["dedup_ngram_jaccard"]}),
cand AS ({ORACLES["dedup_minhash_lsh"]})
SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS jac_band,
  count(*) AS n_true,
  count(c.doc_a) AS n_found,
  count(c.doc_a) * 1000000 // count(*) AS recall_ppm
FROM truth t LEFT JOIN cand c
  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
GROUP BY 1
"""


@register("dedup_lsh_recall_report", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = dedup_ngram_jaccard(spark, sf_dir)
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    j = truth.join(cand, ["doc_a", "doc_b"], "left")
    return (
        j.groupBy(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias("jac_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("hit").alias("n_found"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("CAST(n_found * 1000000 DIV n_true AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_levenshtein — edit-distance near-dup pairs on document TAILS
# (last LEV_SUFFIX chars): catches the "same doc, small edits at the
# end" duplicates (appended dates, footers, tracking codes — the
# driver corpus's own near-dup style: identical heads, tail edits of
# 4-16 chars) that set-based measures dilute. Both engines ship the
# identical classic Levenshtein builtin, so the distance is
# oracle-exact.
#
# Scale shape: Levenshtein is O(n²) per pair and CANNOT be run on the
# cross product — and LENGTH-bucket blocking is not enough: bucket
# population grows linearly with the corpus, so pairs grow
# quadratically (measured 28× time on 10× data in the round-5 bench
# scale check before this fix). The block key is therefore CONTENT:
# md5 of the exact document HEAD (first LEV_HEAD chars) — a
# tail-edited copy shares its head verbatim, so true positives
# co-block while block sizes track duplicate-FAMILY sizes, which are
# independent of corpus density. Edits touching the first LEV_HEAD
# chars are missed (documented recall tradeoff; MinHash covers
# whole-document resemblance). The usual cap backstops boilerplate
# heads.
# ---------------------------------------------------------------------------

LEV_SUFFIX = 64
LEV_MAX_DIST = 16
LEV_HEAD = 32
LEV_BLOCK_CAP = 100  # identical-head row cap — see LSH_BUCKET_CAP


@register(
    "dedup_levenshtein",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, md5(substr(text, 1, {LEV_HEAD})) AS headkey,
    right(text, {LEV_SUFFIX}) AS tail
  FROM documents
),
bsz AS (
  SELECT lang, headkey, count(*) AS m FROM d GROUP BY lang, headkey
),
k AS (
  SELECT d.* FROM d JOIN bsz USING (lang, headkey)
  WHERE m BETWEEN 2 AND {LEV_BLOCK_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(levenshtein(a.tail, b.tail) AS INTEGER) AS tail_edit_dist
FROM k a JOIN k b
  ON a.lang = b.lang AND a.headkey = b.headkey AND a.doc_id < b.doc_id
WHERE levenshtein(a.tail, b.tail) <= {LEV_MAX_DIST}
""",
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.substring("text", 1, LEV_HEAD)).alias("headkey"),
        F.expr(f"right(text, {LEV_SUFFIX})").alias("tail"),
    )
    bsz = docs.groupBy("lang", "headkey").agg(F.count(F.lit(1)).alias("m"))
    k = docs.join(
        bsz.filter(F.col("m").between(2, LEV_BLOCK_CAP)), ["lang", "headkey"]
    ).select("doc_id", "lang", "headkey", "tail")
    a = k.select(
        "lang",
        "headkey",
        F.col("doc_id").alias("doc_a"),
        F.col("tail").alias("ta"),
    )
    b = k.select(
        F.col("lang").alias("lang_b"),
        F.col("headkey").alias("headkey_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("tail").alias("tb"),
    )
    dist = F.levenshtein("ta", "tb")
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.headkey == b.headkey_b)
            & (a.doc_a < b.doc_b),
        )
        .filter(dist <= LEV_MAX_DIST)
        .select("doc_a", "doc_b", dist.cast("int").alias("tail_edit_dist"))
    )


# ---------------------------------------------------------------------------
# minhash_jaccard_estimate — the MinHash ESTIMATOR itself, not just its
# LSH blocking: for every capped-bucket candidate pair, estimated
# Jaccard = (matching signature positions) / K in exact ppm, alongside
# the band count that surfaced the pair. This is what a 100 TB dedup
# actually thresholds on after LSH candidate generation (computing
# exact Jaccard on candidates costs another shingle join; the
# signature agreement is free — both docs' signatures are already in
# the bucket rows). dedup_lsh_recall_report measures the estimator's
# blocking recall; this operator exposes its VALUE.
# ---------------------------------------------------------------------------


@register(
    "minhash_jaccard_estimate",
    oracle=f"""
WITH {NGRAMS_SQL},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {_sig_exprs_sql()}
  FROM xs GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig" for b in range(LSH_BANDS))}
),
bsz AS (
  SELECT band, key, count(*) AS m FROM bands GROUP BY band, key
),
kept AS (
  SELECT bands.doc_id, bands.band, bands.key
  FROM bands JOIN bsz USING (band, key)
  WHERE m BETWEEN 2 AND {LSH_BUCKET_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b, CAST(p.n_shared_bands AS BIGINT) AS n_shared_bands,
  CAST(({" + ".join(f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))})
       * 1000000 // {MINHASH_K} AS BIGINT) AS est_jaccard_ppm
FROM pairs p
JOIN sig x ON p.doc_a = x.doc_id
JOIN sig y ON p.doc_b = y.doc_id
""",
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    t1, t2 = F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
    ng = (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", t1, t2).alias("g"),
            t2.isNotNull().alias("full"),
        )
        .filter("full")
        .select("doc_id", "g")
        .distinct()
        .withColumn("x", _shingle_x_spark())
    )
    # ONE signature table reused for bands AND the per-pair agreement —
    # localCheckpoint so the banding/pairing subtree and the two sig
    # joins below don't each re-run the shingle pipeline (same
    # materialize-the-signatures discipline as dedup_simhash).
    sig = ng.groupBy("doc_id").agg(*_sig_exprs_spark()).localCheckpoint()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * ROWS_PER_BAND + r}")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("key"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    bsz = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("m"))
    kept = bands.join(
        bsz.filter(F.col("m").between(2, LSH_BUCKET_CAP)), ["band", "key"]
    ).select("doc_id", "band", "key")
    buckets = kept.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("ds")
    )
    pairs = (
        buckets.select(F.explode("ds").alias("doc_a"), F.col("ds"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_bands"))
    )
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"xa{i}") for i in range(MINHASH_K)],
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"yb{i}") for i in range(MINHASH_K)],
    )
    agree = sum(
        [
            F.when(F.col(f"xa{i}") == F.col(f"yb{i}"), 1).otherwise(0)
            for i in range(MINHASH_K)
        ],
        F.lit(0),
    )
    return (
        pairs.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            (agree * 1000000).cast("bigint").alias("agree_scaled"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            F.expr(f"CAST(agree_scaled DIV {MINHASH_K} AS BIGINT)").alias(
                "est_jaccard_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_family_histogram — duplicate-family size distribution: how many
# clusters of each size the near-dedup pass found, plus the document
# and would-be-dropped counts per size. The one-page summary a dedup
# run is judged by ("mostly pairs" = healthy near-dup tail; "one
# 100k-doc family" = boilerplate bug). Composes the registered
# corpus_near_dedup_keep_first oracle, so the histogram can never
# drift from the verdict it summarizes.
#
# Scale shape: groupBy(cluster) on the verdict table, then groupBy
# (size) on the per-cluster rows — both map-side combined; output is
# bounded by the largest family size.
# ---------------------------------------------------------------------------


def _family_histogram_oracle() -> str:
    from bpaotu_spark.registry import ORACLES

    return f"""
WITH verdict AS ({ORACLES["corpus_near_dedup_keep_first"]}),
fam AS (
  SELECT cluster_id, count(*) AS family_size FROM verdict GROUP BY cluster_id
),
hist AS (
  SELECT CAST(family_size AS BIGINT) AS family_size, count(*) AS n_families
  FROM fam GROUP BY 1
)
SELECT family_size, n_families,
  CAST(family_size * n_families AS BIGINT) AS n_docs,
  CAST((family_size - 1) * n_families AS BIGINT) AS n_dropped
FROM hist
"""


@register("dedup_family_histogram", oracle=_family_histogram_oracle())
def dedup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    verdict = corpus_near_dedup_keep_first(spark, sf_dir)
    fam = verdict.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("family_size")
    )
    hist = fam.groupBy(
        F.col("family_size").cast("bigint").alias("family_size")
    ).agg(F.count(F.lit(1)).alias("n_families"))
    return hist.select(
        "family_size",
        "n_families",
        (F.col("family_size") * F.col("n_families"))
        .cast("bigint")
        .alias("n_docs"),
        ((F.col("family_size") - 1) * F.col("n_families"))
        .cast("bigint")
        .alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# dedup_cross_source_matrix — WHERE duplication comes from: near-dup
# pair counts per (source_a, source_b) cell, diagonal = within-source
# redundancy, off-diagonal = syndication/mirroring across sources. The
# matrix a curation team reads before deciding which source to drop —
# per-pair verdicts (the other dedup ops) can't answer "is source X
# mostly a mirror of source Y". Composes the capped MinHash pair CTEs,
# so the matrix counts exactly the pairs the dedup pipeline acts on.
#
# Scale shape: two broadcast-dim joins of the (small) pair table back
# to documents' source column, then a bounded |sources|² aggregate.
# ---------------------------------------------------------------------------


def _cross_source_oracle() -> str:
    return f"""
WITH {_minhash_pair_ctes()},
src AS (SELECT doc_id, source FROM documents),
tagged AS (
  SELECT least(a.source, b.source) AS source_a,
         greatest(a.source, b.source) AS source_b
  FROM pairs
  JOIN src a ON doc_a = a.doc_id
  JOIN src b ON doc_b = b.doc_id
),
tot AS (SELECT count(*) AS n_pairs FROM tagged)
SELECT source_a, source_b,
  CAST(count(*) AS BIGINT) AS n_dup_pairs,
  -- 128-bit: pair counts reach ~1e13 under df-capped blocking of a
  -- 1e11-doc corpus, so count·1e6 would pass 2^63
  CAST(CAST(count(*) AS HUGEINT) * 1000000 // n_pairs AS BIGINT)
    AS share_ppm
FROM tagged CROSS JOIN tot
GROUP BY source_a, source_b, n_pairs
"""


@register("dedup_cross_source_matrix", oracle=_cross_source_oracle())
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    tagged = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    tot = tagged.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            F.expr(
                "CAST(CAST(n_dup_pairs AS DECIMAL(38,0)) * 1000000"
                " DIV n_pairs AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# source_novelty_ngrams — per-source content novelty: the share of each
# source's word-3-gram occurrences whose FIRST corpus occurrence (min
# doc_id over the whole corpus) lives in that source's own documents.
# Low novelty = the source mostly re-states text that earlier documents
# already contain — the curation signal for dropping aggregator/mirror
# sources wholesale, complementing pairwise dedup (which only sees
# near-identical documents, not diffuse boilerplate reuse).
#
# Scale shape: one shuffle keyed on the gram string for the min-owner
# aggregate (map-side combinable min), one for the per-doc gram counts;
# both per-doc tables then join documents on doc_id (the natural key)
# and collapse to a #sources-row result. Nothing quadratic anywhere —
# this is the linear companion the pair-formers can't provide.
# 128-bit ppm: at 100 TB a source's gram count passes 2^63 / 1e6.
# ---------------------------------------------------------------------------


@register(
    "source_novelty_ngrams",
    oracle=f"""
WITH {NGRAMS_SQL},
own AS (SELECT g, min(doc_id) AS first_doc FROM ng GROUP BY g),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM ng GROUP BY doc_id),
nov AS (SELECT first_doc AS doc_id, count(*) AS n_novel FROM own GROUP BY 1)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(coalesce(p.n_grams, 0)) AS BIGINT) AS n_grams,
  CAST(sum(coalesce(v.n_novel, 0)) AS BIGINT) AS n_novel,
  CAST(CAST(sum(coalesce(v.n_novel, 0)) AS HUGEINT) * 1000000
       // greatest(sum(coalesce(p.n_grams, 0)), 1) AS BIGINT)
    AS novelty_ppm
FROM documents d
LEFT JOIN per_doc p ON d.doc_id = p.doc_id
LEFT JOIN nov v ON d.doc_id = v.doc_id
GROUP BY d.source
""",
)
def source_novelty_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ng = doc_ngrams(spark, sf_dir)
    own = ng.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = ng.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    nov = own.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = (
        docs.join(per_doc, "doc_id", "left")
        .join(nov, "doc_id", "left")
        .na.fill({"n_grams": 0, "n_novel": 0})
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("n_grams"),
        F.sum("n_novel").cast("bigint").alias("n_novel"),
        F.expr(
            "CAST(CAST(sum(n_novel) AS DECIMAL(38,0)) * 1000000"
            " DIV greatest(sum(n_grams), 1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric near-duplication: containment
# C = |A ∩ B| / min(|A|, |B|) over distinct 3-gram sets (Broder's
# resemblance-vs-containment distinction). A short document pasted
# inside a long one scores near-zero Jaccard (the union is dominated by
# the long side) but containment ~1 — the exact excerpt/quotation case
# corpus curation must catch that dedup_ngram_jaccard structurally
# cannot. The output carries both measures so the gap is visible.
#
# Scale shape: identical to dedup_ngram_jaccard — the SAME df-capped
# shingle inverted index forms pairs (map-side-combined df gate before
# any collect_list; no unbounded bucket anywhere), so `shared` counts
# informative shingles only and containment is a lower bound under
# capping, identically in both engines.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


@register(
    "dedup_containment",
    oracle=f"""
WITH {NGRAMS_SQL},
sz AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
gdf AS (SELECT g, count(*) AS df FROM ng GROUP BY g),
ngk AS (
  SELECT ng.doc_id, ng.g FROM ng JOIN gdf USING (g)
  WHERE df BETWEEN 2 AND {NGRAM_DF_CAP}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM ngk a JOIN ngk b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  CASE WHEN x.n <= y.n THEN doc_a ELSE doc_b END AS contained_id,
  CAST(round(shared * 1.0 / least(x.n, y.n), 4) AS DOUBLE) AS containment,
  CAST(round(shared * 1.0 / (x.n + y.n - shared), 4) AS DOUBLE) AS jaccard
FROM pairs
JOIN sz x ON doc_a = x.doc_id
JOIN sz y ON doc_b = y.doc_id
WHERE shared * 1.0 / least(x.n, y.n) >= {CONTAINMENT_THRESHOLD}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ng = doc_ngrams(spark, sf_dir)
    sz = ng.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    gdf = ng.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ngk = ng.join(
        gdf.filter(F.col("df").between(2, NGRAM_DF_CAP)), "g"
    ).select("doc_id", "g")
    buckets = ngk.groupBy("g").agg(F.collect_list("doc_id").alias("ds"))
    pairs = (
        buckets.select(F.explode("ds").alias("doc_a"), F.col("ds"))
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    cont = F.col("shared") * 1.0 / F.least("n_a", "n_b")
    jac = F.col("shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_id"),
            F.round(cont, 4).cast("double").alias("containment"),
            F.round(jac, 4).cast("double").alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# text_tfidf_cosine_pairs — lexical cosine similarity over tf-idf
# weighted token vectors: the sparse-vector twin of dedup_embedding
# (which needs an embedding column) for corpora that only have text.
# Weights are exact integers (tf · idf in milli-nats, idf floored once
# per token), norms are exact Σw², and the similarity is reported as
# cos² in integer ppm via 128-bit arithmetic — cos² is monotone in cos
# for the non-negative weights here, so thresholding cos² ≥ 0.25
# equals cos ≥ 0.5 with zero floating-point ties.
#
# Scale shape: the pair-former is the SAME df-capped token inverted
# index as dedup_ngram_jaccard/dedup_containment (df gate map-side
# combined before the bucket collect — no unbounded bucket). Tokens
# above the cap contribute to norms but not dots, so cos² is a lower
# bound under capping, identically in both engines (ubiquitous tokens
# carry near-zero idf anyway — the cap removes ~nothing of the true
# score while bounding every task).
# ---------------------------------------------------------------------------

COSINE2_THRESHOLD_PPM = 250_000  # cos >= 0.5
TFIDF_DF_CAP = 100


@register(
    "text_tfidf_cosine_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENIZE_SQL}) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, token
),
df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
wgt AS (
  SELECT doc_id, tf.token,
    tf * CAST(floor(ln(n_docs * 1.0 / df) * 1000) AS BIGINT) AS w,
    df
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
),
norm2 AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM wgt GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM wgt a JOIN wgt b
    ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE a.df BETWEEN 2 AND {TFIDF_DF_CAP}
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT doc_a, doc_b, dot,
    CAST(CAST(dot AS HUGEINT) * dot * 1000000
         // (CAST(x.n2 AS HUGEINT) * y.n2) AS BIGINT) AS cos2_ppm
  FROM dots
  JOIN norm2 x ON doc_a = x.doc_id
  JOIN norm2 y ON doc_b = y.doc_id
)
SELECT doc_a, doc_b, dot, cos2_ppm
FROM scored WHERE cos2_ppm >= {COSINE2_THRESHOLD_PPM}
""",
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    wgt = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "df",
            (
                F.col("tf")
                * F.floor(
                    F.log(F.col("n_docs") * 1.0 / F.col("df")) * 1000
                ).cast("bigint")
            ).alias("w"),
        )
    )
    norm2 = wgt.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("n2")
    )
    # df-capped inverted index: the bucket per token is bounded, so the
    # collect+double-explode pair-former never materializes a mega-task
    capped = wgt.filter(F.col("df").between(2, TFIDF_DF_CAP)).select(
        "token", "doc_id", "w"
    )
    buckets = capped.groupBy("token").agg(
        F.collect_list(F.struct("doc_id", "w")).alias("ds")
    )
    pairs = (
        buckets.select(F.explode("ds").alias("a"), F.col("ds"))
        .select("a", F.explode("ds").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).cast("bigint").alias("dot"))
    )
    na = norm2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norm2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos2 = F.expr(
        "CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000"
        " DIV (CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "dot", cos2.alias("cos2_ppm"))
        .filter(F.col("cos2_ppm") >= COSINE2_THRESHOLD_PPM)
    )


# ---------------------------------------------------------------------------
# lsh_bucket_profile — observability for the round-5 bucket caps: the
# per-band MinHash bucket-size census. For each of the LSH_BANDS bands:
# how many buckets exist, how many are singletons (no candidate pairs),
# how many are active (2..LSH_BUCKET_CAP — these form pairs), how many
# hit the cap and were DROPPED, the largest bucket, and the exact pair
# counts formed vs dropped. This is the "no silent caps" dashboard: a
# deployment watches pairs_dropped/pairs_formed drift before trusting
# dedup output on a new corpus (the drop share is boilerplate mass the
# exact-dedup pre-pass should have collapsed).
#
# Scale shape: the band table (8 rows/doc) → one (band, key) count →
# one 8-row band rollup; map-side combine end to end, no pair is ever
# materialized. Pair counts use Σ m(m−1) DIV 2 in 128-bit
# (HUGEINT / DECIMAL(38,0)) — a single adversarial mega-bucket of 1e9+
# docs overflows int64 pair arithmetic, the exact hazard the cap
# exists to stop.
# ---------------------------------------------------------------------------


@register(
    "lsh_bucket_profile",
    oracle=f"""
WITH {NGRAMS_SQL},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {_sig_exprs_sql()}
  FROM xs GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig" for b in range(LSH_BANDS))}
),
bsz AS (
  SELECT band, key, CAST(count(*) AS BIGINT) AS m FROM bands
  GROUP BY band, key
)
SELECT band,
  CAST(count(*) AS BIGINT) AS n_buckets,
  CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singleton,
  CAST(sum(CASE WHEN m BETWEEN 2 AND {LSH_BUCKET_CAP} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_active,
  CAST(sum(CASE WHEN m > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_capped,
  CAST(max(m) AS BIGINT) AS max_bucket,
  CAST(sum(CASE WHEN m BETWEEN 2 AND {LSH_BUCKET_CAP}
    THEN CAST(m AS HUGEINT) * (m - 1) ELSE 0 END) // 2 AS BIGINT)
    AS pairs_formed,
  CAST(sum(CASE WHEN m > {LSH_BUCKET_CAP}
    THEN CAST(m AS HUGEINT) * (m - 1) ELSE 0 END) // 2 AS BIGINT)
    AS pairs_dropped
FROM bsz GROUP BY band
""",
)
def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the profile reads the store-served band table (no signature
    # recompute); the oracle re-derives bands from raw shingles
    from bpaotu_spark.dedup.sigstore import full_band_index

    bsz = (
        full_band_index(spark, sf_dir)
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    act = F.col("m").between(2, LSH_BUCKET_CAP)
    over = F.col("m") > LSH_BUCKET_CAP
    return bsz.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_singleton"),
        F.sum(F.when(act, 1).otherwise(0)).cast("bigint").alias("n_active"),
        F.sum(F.when(over, 1).otherwise(0)).cast("bigint").alias("n_capped"),
        F.max("m").cast("bigint").alias("max_bucket"),
        F.expr(
            f"CAST(sum(CASE WHEN m BETWEEN 2 AND {LSH_BUCKET_CAP}"
            " THEN CAST(m AS DECIMAL(38,0)) * (m - 1) ELSE 0 END)"
            " DIV 2 AS BIGINT)"
        ).alias("pairs_formed"),
        F.expr(
            f"CAST(sum(CASE WHEN m > {LSH_BUCKET_CAP}"
            " THEN CAST(m AS DECIMAL(38,0)) * (m - 1) ELSE 0 END)"
            " DIV 2 AS BIGINT)"
        ).alias("pairs_dropped"),
    )


# ---------------------------------------------------------------------------
# dedup_band_threshold_sweep — the empirical S-curve companion to
# lsh_bucket_profile and dedup_lsh_recall_report: for every possible
# shared-bands verdict threshold t = 1..LSH_BANDS, how many candidate
# pairs survive "n_shared_bands >= t", with the survivor share in ppm
# of all candidates. Choosing t IS the precision/recall knob of a
# banded MinHash deployment; this table is what that choice is read
# off, computed from the SAME registered pair oracle (embedded as a
# CTE, zero drift by construction).
#
# Scale shape: the pair table rolls up to an 8-row threshold table via
# one count-by-shared-bands aggregation (map-side combine) and a
# running sum over the 8-row frame — the only window is band-bounded.
# ---------------------------------------------------------------------------


def _band_sweep_oracle() -> str:
    from bpaotu_spark.registry import ORACLES

    return f"""
WITH pairs AS ({ORACLES["dedup_minhash_lsh"]}),
hist AS (
  SELECT n_shared_bands AS t, CAST(count(*) AS BIGINT) AS n_at
  FROM pairs GROUP BY 1
),
grid AS (SELECT unnest(range(1, {LSH_BANDS} + 1)) AS t),
cum AS (
  SELECT grid.t,
    CAST(coalesce(sum(hist.n_at), 0) AS BIGINT) AS n_pairs_at_least
  FROM grid LEFT JOIN hist ON hist.t >= grid.t
  GROUP BY grid.t
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pairs)
SELECT CAST(t AS BIGINT) AS threshold, n_pairs_at_least, n_total,
  CASE WHEN n_total = 0 THEN 0
       ELSE n_pairs_at_least * 1000000 // n_total END AS survivor_ppm
FROM cum, tot
"""


@register("dedup_band_threshold_sweep", oracle=_band_sweep_oracle())
def dedup_band_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    hist = pairs.groupBy(
        F.col("n_shared_bands").alias("t")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_at"))
    grid = spark.range(1, LSH_BANDS + 1).select(F.col("id").alias("t"))
    cum = (
        grid.join(
            hist.select(F.col("t").alias("ht"), "n_at"),
            F.col("ht") >= F.col("t"),
            "left",
        )
        .groupBy("t")
        .agg(
            F.coalesce(F.sum("n_at"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs_at_least")
        )
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    return cum.crossJoin(F.broadcast(tot)).select(
        F.col("t").cast("bigint").alias("threshold"),
        "n_pairs_at_least",
        "n_total",
        F.expr(
            "CASE WHEN n_total = 0 THEN 0"
            " ELSE n_pairs_at_least * 1000000 div n_total END"
        ).alias("survivor_ppm"),
    )


# ---------------------------------------------------------------------------
# dedup_family_agreement — do the two cheap near-dup families agree?
# MinHash-LSH candidates (shingle/Jaccard geometry) vs SimHash pairs
# (token-set Hamming geometry) over the same corpus: pair counts found
# by each, by both, and the Jaccard of the two PAIR SETS in ppm. The
# calibration table for choosing which family to run at 100 TB (or
# whether to run both): low agreement means the families see different
# duplicate classes and are complements, not substitutes. Composes the
# two REGISTERED oracles as CTEs, so this report can never drift from
# what the operators actually emit.
# ---------------------------------------------------------------------------


def _family_agreement_oracle() -> str:
    from bpaotu_spark.registry import ORACLES

    return f"""
WITH mh AS ({ORACLES["dedup_minhash_lsh"]}),
sh AS ({ORACLES["dedup_simhash"]}),
u AS (
  SELECT doc_a, doc_b,
    max(in_mh) AS in_mh, max(in_sh) AS in_sh
  FROM (
    SELECT doc_a, doc_b, 1 AS in_mh, 0 AS in_sh FROM mh
    UNION ALL
    SELECT doc_a, doc_b, 0 AS in_mh, 1 AS in_sh FROM sh
  ) GROUP BY doc_a, doc_b
)
SELECT
  CAST(sum(in_mh) AS BIGINT) AS n_minhash,
  CAST(sum(in_sh) AS BIGINT) AS n_simhash,
  CAST(sum(in_mh * in_sh) AS BIGINT) AS n_both,
  CAST(count(*) AS BIGINT) AS n_union,
  CAST(sum(in_mh * in_sh) * 1000000 // count(*) AS BIGINT)
    AS agreement_jaccard_ppm
FROM u
"""


@register("dedup_family_agreement", oracle=_family_agreement_oracle())
def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-set agreement between MinHash-LSH and SimHash (1-row).

    Scale: both inputs are the already-bounded pair frames (banded,
    bucket-capped); the agreement rollup is a full-outer join on the
    pair key + one 1-row aggregate.
    """
    mh = (
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_mh", F.lit(1))
    )
    sh = (
        dedup_simhash(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_sh", F.lit(1))
    )
    u = mh.join(sh, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_mh", F.lit(0)).alias("in_mh"),
        F.coalesce("in_sh", F.lit(0)).alias("in_sh"),
    )
    return u.agg(
        F.sum("in_mh").cast("bigint").alias("n_minhash"),
        F.sum("in_sh").cast("bigint").alias("n_simhash"),
        F.sum(F.col("in_mh") * F.col("in_sh"))
        .cast("bigint")
        .alias("n_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
        F.expr(
            "CAST(sum(in_mh * in_sh) * 1000000 div count(*) AS BIGINT)"
        ).alias("agreement_jaccard_ppm"),
    )


# ---------------------------------------------------------------------------
# embedding_cosine_pair_histogram — the calibration companion to
# dedup_embedding: the full distribution of pairwise cosine similarity
# over the label-blocked candidate pairs, binned into twenty 0.1-wide
# buckets on [−1, 1]. A dedup deployment reads the valley of this
# histogram to SET the near-dup threshold before trusting it at
# 100 TB (same observability role lsh_bucket_profile plays for the
# banded families).
#
# Determinism: cosine uses the identical sequential-fold double
# arithmetic as dedup_embedding (norms precomputed per vector), so
# the double is bit-equal in both engines and the floor-binning (a
# per-row op) lands identically; outputs are integer counts/ppm.
# greatest/least clamp the −1/+1 float edges into bins 0 and 19.
#
# Scale shape: same label-blocked pair former as dedup_embedding
# (pair count quadratic in block size, never table size); histogram
# is a 20-row groupBy with map-side combine; the grand total is a
# broadcast 1-row scalar.
# ---------------------------------------------------------------------------


@register(
    "embedding_cosine_pair_histogram",
    oracle=f"""
WITH p AS (
  SELECT greatest(CAST(0 AS BIGINT),
           least(CAST(19 AS BIGINT),
                 CAST(floor(({COSINE_SQL} + 1.0) * 10) AS BIGINT))) AS bin
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
), h AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY bin
), t AS (
  SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM h
)
SELECT bin, bin * 100 - 1000 AS lo_milli, bin * 100 - 900 AS hi_milli,
  n_pairs, n_pairs * 1000000 // total AS share_ppm
FROM h CROSS JOIN t
""",
)
def embedding_cosine_pair_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn("nrm", norm(F.col("v")))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("nrm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    binned = (
        a.join(b, (a.label == b.label_b) & (a.vec_a < b.vec_b))
        .select(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(F.lit(19).cast("long"), F.floor((cos + 1.0) * 10)),
            ).alias("bin")
        )
    )
    h = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs"))
    t = h.agg(F.sum("n_pairs").alias("total"))
    return h.crossJoin(F.broadcast(t)).select(
        "bin",
        (F.col("bin") * 100 - 1000).alias("lo_milli"),
        (F.col("bin") * 100 - 900).alias("hi_milli"),
        "n_pairs",
        F.expr("n_pairs * 1000000 div total").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# minhash_union_cardinality — the sketch-calibration row for SET
# cardinality: per source pair, the exact shingle-set union/Jaccard
# next to their MinHash estimates (Broder '97: Ĵ = matching signature
# components / K; |A∪B| ≈ (|A|+|B|)·K / (K + matches) by
# inclusion-exclusion with |A∩B| = Ĵ·|A∪B|). The production use is
# planning cross-source dedup without materializing the intersection:
# at 100 TB only the K-component signatures (one row per source) meet,
# while this operator's EXACT columns quantify the estimator's error
# at a scale where exact is still computable.
#
# Determinism: the signature reuses dedup_minhash_lsh's universal-hash
# family verbatim (exact 64-bit integer arithmetic in both engines);
# estimates are integer div ratios. Scale shape: shingle x-sets are
# distinct (source, x) partials; the signature is a 16-min aggregation
# per source; pairing joins the |sources|-row signature frame to
# itself (bounded broadcast, allowlisted); the exact intersection
# joins on the shingle inverted-index key x.
# ---------------------------------------------------------------------------


def _mhu_matches_sql() -> str:
    return " + ".join(
        f"CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )


@register(
    "minhash_union_cardinality",
    oracle=f"""
WITH {NGRAMS_SQL},
xs AS (
  SELECT DISTINCT d.source, {_SHINGLE_X_SQL} AS x
  FROM ng JOIN documents d USING (doc_id)
),
sz AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM xs GROUP BY source
),
sig AS (
  SELECT source,
    {_sig_exprs_sql()}
  FROM xs GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CAST(count(*) AS BIGINT) AS n_inter
  FROM xs a JOIN xs b ON a.x = b.x AND a.source < b.source
  GROUP BY 1, 2
),
mt AS (
  SELECT x.source AS source_a, y.source AS source_b,
    CAST({_mhu_matches_sql()} AS BIGINT) AS matches
  FROM sig x JOIN sig y ON x.source < y.source
)
SELECT mt.source_a, mt.source_b, sa.n AS n_a, sb.n AS n_b,
  sa.n + sb.n - coalesce(i.n_inter, 0) AS exact_union,
  (sa.n + sb.n) * {MINHASH_K} // ({MINHASH_K} + mt.matches) AS est_union,
  coalesce(i.n_inter, 0) * 1000000
    // (sa.n + sb.n - coalesce(i.n_inter, 0)) AS exact_jaccard_ppm,
  mt.matches * 1000000 // {MINHASH_K} AS est_jaccard_ppm
FROM mt
JOIN sz sa ON sa.source = mt.source_a
JOIN sz sb ON sb.source = mt.source_b
LEFT JOIN inter i
  ON i.source_a = mt.source_a AND i.source_b = mt.source_b
""",
)
def minhash_union_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs MinHash-estimated union cardinality per source pair."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # xs fans into sz, sig (twice: both pair sides) and the exact-
    # intersection self-join sides — five plan references that each
    # recomputed the shingle pipeline (24 parquet scans in the before
    # plan). One localCheckpoint materializes the distinct (source, x)
    # set once; every leg reads the checkpointed rows.
    xs = (
        doc_ngrams(spark, sf_dir)
        .join(docs, "doc_id")
        .select("source", _shingle_x_spark().alias("x"))
        .distinct()
        .localCheckpoint()
    )
    sz = xs.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sig = xs.groupBy("source").agg(*_sig_exprs_spark())
    sx = sig.alias("x")
    sy = sig.select(
        F.col("source").alias("source_b"),
        *[F.col(f"h{i}").alias(f"g{i}") for i in range(MINHASH_K)],
    )
    matches = sum(
        F.when(F.col(f"h{i}") == F.col(f"g{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    ).cast("bigint")
    # bounded |sources|² broadcast pair frame (allowlisted BNLJ)
    mt = (
        sx.join(F.broadcast(sy), F.col("source") < F.col("source_b"))
        .select(
            F.col("source").alias("source_a"),
            "source_b",
            matches.alias("matches"),
        )
    )
    xa = xs.select(F.col("source").alias("source_a"), "x")
    xb = xs.select(F.col("source").alias("source_b"), F.col("x").alias("xb"))
    inter = (
        xa.join(
            xb,
            (F.col("x") == F.col("xb"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        mt.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.expr("n_a + n_b - coalesce(n_inter, 0)").alias("exact_union"),
            F.expr(
                f"(n_a + n_b) * {MINHASH_K} div ({MINHASH_K} + matches)"
            ).alias("est_union"),
            F.expr(
                "coalesce(n_inter, 0) * 1000000"
                " div (n_a + n_b - coalesce(n_inter, 0))"
            ).alias("exact_jaccard_ppm"),
            F.expr(f"matches * 1000000 div {MINHASH_K}").alias(
                "est_jaccard_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# dedup_survival_by_source — token-aware survival census over the
# near-dedup verdict: per source, documents and token mass kept vs
# dropped (the "dedup saves X % of source Y" number a mixture plan
# needs BEFORE reweighting — dropping boilerplate-heavy sources
# changes effective mixture weights). Composes the registered
# corpus_near_dedup_keep_first oracle, so verdict and census can
# never drift; token counts reuse the shared tokenizer.
#
# Scale shape: the verdict's own shape plus one broadcast-joined
# per-doc token count and one source rollup.
# ---------------------------------------------------------------------------


@register(
    "dedup_survival_by_source",
    oracle=f"""
WITH verdict AS ({{verdict}}),
tl AS (
  SELECT doc_id, source,
    CAST(len({TOKENIZE_SQL}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT tl.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN is_kept THEN n_tokens ELSE 0 END) AS BIGINT)
    AS kept_tokens,
  CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000 // count(*) AS doc_survival_ppm,
  CAST(sum(CASE WHEN is_kept THEN n_tokens ELSE 0 END) AS BIGINT)
    * 1000000 // CAST(sum(n_tokens) AS BIGINT) AS token_survival_ppm
FROM verdict JOIN tl ON verdict.doc_id = tl.doc_id
GROUP BY tl.source
""".format(verdict=ORACLES["corpus_near_dedup_keep_first"]),
)
def dedup_survival_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc/token survival after near-dedup keep-first."""
    verdict = corpus_near_dedup_keep_first(spark, sf_dir).select(
        "doc_id", "is_kept"
    )
    tl = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return (
        verdict.join(tl, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("is_kept"), 1).otherwise(0))
            .cast("bigint")
            .alias("kept_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("is_kept"), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "kept_docs",
            "n_tokens",
            "kept_tokens",
            F.expr("kept_docs * 1000000 div n_docs").alias(
                "doc_survival_ppm"
            ),
            F.expr("kept_tokens * 1000000 div n_tokens").alias(
                "token_survival_ppm"
            ),
        )
    )
