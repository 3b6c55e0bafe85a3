"""The deletion policy, and the index lifecycle of the dedup families.

bpaotu's importer ingests and re-ingests standing tables (public
``bpaotu/otu/importer.py``). At scale re-ingest cannot be
truncate-and-reload, so a standing index lives through three kinds of
change, each a deterministic id residue class that Spark and the
DuckDB oracles name without a side channel. This module is the one
place they are defined:

* ``DROP``: doc_id ≡ 0 (mod 8), about 12.5 % — tonight's insert into
  the standing index built over the other ids (``vec_id`` for the
  embedding family);
* ``DEAD_DOCS``: doc_id ≡ 3 (mod 16), about 6.25 % — the document
  takedown set. Drop ids are even and takedown ids odd, so the drop
  never holds a deleted document;
* ``DEAD_VECS``: vec_id ≡ 7 (mod 50), 2 % — the vector takedown set.
  The same order drives the sign-LSH bucket surgery here and the
  graph repair in :mod:`bpaotu_spark.ann.lifecycle`.

Deleted rows are debt that every scan still reads. A dedup family
consolidates (compacts to survivors) once its dead share reaches
``DEBT_THRESHOLD_PPM`` (5 %): the document families do, the vector
family does not. The graph consolidates at
``GRAPH_TOMB_THRESHOLD_PPM`` (10 %) tombstone-incident edges or
``GRAPH_REPAIR_THRESHOLD_PPM`` (5 %) repair-edge dilution (FreshDiskANN,
Singh et al. 2021, §4). A consolidated family is promoted: its
survivor artifact becomes the serving base and its takedown set
resets.

Operators here, each checked against a from-scratch oracle:

* inserts — ``dedup_incremental_{minhash,exact,simhash,embedding}``
  probe the standing index with the drop and emit only pairs that
  involve a new id. Signatures are per document and bucket caps are
  evaluated on union sizes, so the result equals the from-scratch run
  on the union restricted to those pairs. ``corpus_novelty_growth_curve``
  is the marginal shingle novelty of each ingest decile.
* deletes — ``dedup_tombstone_{exact,minhash,simhash,embedding}``
  give, per touched hash group or bucket, the sizes and the min-id
  keeper before and after the takedown (a capped MinHash bucket can be
  REVIVED by deletes). ``dedup_maintenance_cycle`` and its
  ``_minhash`` twin apply the drop and the takedown in one pass.
* consolidation — ``index_tombstone_debt`` (the census),
  ``dedup_index_compact`` (publish the survivor-only artifacts),
  ``dedup_epoch_promote`` (serve them) and ``dedup_epoch_incremental``
  (the drop inserted into the promoted base).

Scale shape: the Spark sides read the persisted store artifacts and
touch only what a change reaches (broadcast lookups of the touched
keys into the standing index); the corpus is never rescanned.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from bpaotu_spark.catalog import load_table
from bpaotu_spark.dedup.core import (
    LSH_BANDS,
    LSH_BUCKET_CAP,
    NGRAMS_SQL,
    _band_key_sql,
    _SHINGLE_X_SQL,
    _sig_exprs_sql,
    minhash_bands,
)
from bpaotu_spark.registry import register


class IdSet(NamedTuple):
    """The ids whose ``col`` is ≡ ``res`` (mod ``mod``), as a Spark
    ``Column``, an oracle SQL fragment or a walk ``Where``;
    ``member=False`` gives the complement. ``col`` can be overridden
    per call for a renamed or qualified id column."""

    col: str
    mod: int
    res: int

    def spark(self, col: str | None = None, member: bool = True) -> Column:
        rem = F.col(col or self.col) % self.mod
        return rem == self.res if member else rem != self.res

    def sql(self, col: str | None = None, member: bool = True) -> str:
        op = "=" if member else "!="
        return f"{col or self.col} % {self.mod} {op} {self.res}"

    def where(self, member: bool = True):
        from bpaotu_spark.ann.walk import id_mod

        return id_mod(self.col, self.mod, self.res, equal=member)


DROP = IdSet("doc_id", 8, 0)
DEAD_DOCS = IdSet("doc_id", 16, 3)
DEAD_VECS = IdSet("vec_id", 50, 7)
DEBT_THRESHOLD_PPM = 50_000
GRAPH_TOMB_THRESHOLD_PPM = 100_000
GRAPH_REPAIR_THRESHOLD_PPM = 50_000


def _n_new_sql(a: str, b: str) -> str:
    return (
        f"CAST((CASE WHEN {DROP.sql(a)} THEN 1 ELSE 0 END)\n"
        f"     + (CASE WHEN {DROP.sql(b)} THEN 1 ELSE 0 END) AS BIGINT)"
    )


def _bands_sql(where: str = "") -> str:
    """``bands`` (doc_id, band, key) from scratch, over the documents
    matching ``where`` (all when empty)."""
    ngrams = NGRAMS_SQL
    if where:
        ngrams = ngrams.replace(
            "FROM documents", f"FROM documents WHERE {where}", 1
        )
    union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_key_sql(b)} AS key FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH {ngrams},
xs AS (
  SELECT doc_id, {_SHINGLE_X_SQL} AS x FROM ng
),
sig AS (
  SELECT doc_id,
    {_sig_exprs_sql()}
  FROM xs GROUP BY doc_id
),
bands AS (
  {union}
)"""


def _incremental_pairs_sql(where: str = "") -> str:
    """The from-scratch MinHash pair set over the documents matching
    ``where``, restricted to pairs with a drop document."""
    return f"""{_bands_sql(where)},
bsz AS (
  SELECT band, key, count(*) AS m FROM bands GROUP BY band, key
),
kept AS (
  SELECT bands.doc_id, bands.band, bands.key
  FROM bands JOIN bsz USING (band, key)
  WHERE m BETWEEN 2 AND {LSH_BUCKET_CAP}
),
full_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_shared_bands,
  {_n_new_sql("doc_a", "doc_b")}
    AS n_new_in_pair
FROM full_pairs
WHERE {DROP.sql("doc_a")} OR {DROP.sql("doc_b")}
"""


def _simhash_sql() -> str:
    """``banded`` (doc_id, simhash, b, band_val) from scratch."""
    from bpaotu_spark.dedup.core import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
        _feature_hash_sql,
    )
    from bpaotu_spark.functions.textops import TOKENIZE_SQL

    return f"""
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
)"""


# ---------------------------------------------------------------------------
# Inserts: the standing index of each family is published through the
# store over the base ids (the drop's complement); the drop is probed
# against it by (band, key) / bucket lookups, so the work is bounded by
# the drop, not the corpus.
# ---------------------------------------------------------------------------


def base_band_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The standing MinHash index: the base corpus's band table (the
    full-corpus store artifact filtered to base ids — signatures are
    per document) and its bucket-size summary, both persisted."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.sigstore import full_band_index

    bands = cached_frame(
        spark,
        sf_dir,
        "dedup_bands_b8",
        lambda: full_band_index(spark, sf_dir).filter(
            DROP.spark(member=False)
        ),
        table="documents",
    )
    return bands, _bucket_sizes(spark, sf_dir, "dedup_bandsz_b8", bands)


def _bucket_sizes(
    spark: SparkSession, sf_dir: str, name: str, bands: DataFrame
) -> DataFrame:
    from bpaotu_spark.ann.index_store import cached_frame

    return cached_frame(
        spark,
        sf_dir,
        name,
        lambda: bands.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("m_base")
        ),
        table="documents",
    )


def augment_dedup_index(
    spark: SparkSession,
    base_bands: DataFrame,
    base_sizes: DataFrame,
    new_docs: DataFrame,
) -> DataFrame:
    """Insert ``new_docs`` (doc_id, text; ids disjoint from the base)
    into the standing index and emit ONLY the new candidate pairs:
    ``(doc_a, doc_b, n_shared_bands, n_new_in_pair)`` where at least
    one side is new. The base index is probed by broadcast equi-joins
    on the delta's (band, key) set — delta-bounded work regardless of
    base size."""
    new_bands = minhash_bands(
        new_docs.select("doc_id", "text")
    ).localCheckpoint()
    new_sizes = new_bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("m_new")
    )
    # union bucket sizes — exactly what a from-scratch run would gate on
    keys = (
        new_sizes.join(base_sizes, ["band", "key"], "left")
        .select(
            "band",
            "key",
            (
                F.col("m_new") + F.coalesce(F.col("m_base"), F.lit(0))
            ).alias("m"),
        )
        .filter(F.col("m").between(2, LSH_BUCKET_CAP))
        .select("band", "key")
        .localCheckpoint()  # two consumers below; keys are delta-bounded
    )
    kept_new = new_bands.join(F.broadcast(keys), ["band", "key"])
    kept_old = base_bands.join(F.broadcast(keys), ["band", "key"])
    new_old = (
        kept_new.select("band", "key", F.col("doc_id").alias("n_id"))
        .join(
            kept_old.select("band", "key", F.col("doc_id").alias("o_id")),
            ["band", "key"],
        )
        .select(
            F.least("n_id", "o_id").alias("doc_a"),
            F.greatest("n_id", "o_id").alias("doc_b"),
        )
    )
    # new-vs-new: bucket-collect inside the capped delta buckets — the
    # same explode shape as the batch operator, never a self-join
    new_new = (
        kept_new.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ds"))
        .select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    pairs = (
        new_old.unionByName(new_new)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    new_ids = new_bands.select("doc_id").distinct()
    na = new_ids.select(F.col("doc_id").alias("doc_a")).withColumn(
        "a_new", F.lit(1).cast("bigint")
    )
    nb = new_ids.select(F.col("doc_id").alias("doc_b")).withColumn(
        "b_new", F.lit(1).cast("bigint")
    )
    return (
        pairs.join(F.broadcast(na), "doc_a", "left")
        .join(F.broadcast(nb), "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            (
                F.coalesce(F.col("a_new"), F.lit(0))
                + F.coalesce(F.col("b_new"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_new_in_pair"),
        )
    )


def _drop_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(DROP.spark())
    )


@register("dedup_incremental_minhash", oracle=_incremental_pairs_sql())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly incremental dedup: insert the drop into the persisted
    base band index and emit only the new-vs-old ∪ new-vs-new
    candidate pairs (the oracle is the from-scratch union run)."""
    base_bands, base_sizes = base_band_index(spark, sf_dir)
    return augment_dedup_index(
        spark, base_bands, base_sizes, _drop_docs(spark, sf_dir)
    )


@register(
    "dedup_incremental_exact",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
canon AS (
  SELECT h, min(doc_id) AS canonical_id FROM h GROUP BY h
)
SELECT x.doc_id AS new_id, c.canonical_id,
  (c.canonical_id != x.doc_id) AS is_duplicate,
  (c.canonical_id != x.doc_id AND {DROP.sql("c.canonical_id", False)})
    AS cross_batch
FROM h x JOIN canon c ON c.h = x.h
WHERE {DROP.sql("x.doc_id")}
ORDER BY new_id
""",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly exact dedup against the persisted (h, min base id) map:
    one row per drop doc — (new_id, canonical_id, is_duplicate,
    cross_batch). The canonical keeps the smallest doc_id across base
    ∪ drop, as a from-scratch ``dedup_exact`` on the union would."""
    from bpaotu_spark.ann.index_store import cached_frame

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build_base() -> DataFrame:
        return (
            docs.filter(DROP.spark(member=False))
            .select("doc_id", F.md5("text").alias("h"))
            .groupBy("h")
            .agg(F.min("doc_id").alias("base_min"))
        )

    base_min = cached_frame(
        spark, sf_dir, "dedup_exact_b8", build_base, table="documents"
    )
    new = docs.filter(DROP.spark()).select(
        "doc_id", F.md5("text").alias("h")
    )
    new_grp = new.groupBy("h").agg(F.min("doc_id").alias("new_min"))
    return (
        new.join(new_grp, "h")
        .join(base_min, "h", "left")
        .select(
            F.col("doc_id").alias("new_id"),
            F.least(
                F.coalesce(F.col("base_min"), F.col("new_min")),
                F.col("new_min"),
            ).alias("canonical_id"),
        )
        .select(
            "new_id",
            "canonical_id",
            (F.col("canonical_id") != F.col("new_id")).alias("is_duplicate"),
            (
                (F.col("canonical_id") != F.col("new_id"))
                & DROP.spark("canonical_id", member=False)
            ).alias("cross_batch"),
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# corpus_novelty_growth_curve — diminishing-novelty audit for a
# growing corpus: split the corpus into 10 equal ingest batches (by
# doc_id, the arrival-order proxy) and measure, per batch, the share
# of its distinct 3-gram shingles never seen in ANY earlier batch.
# When marginal novelty flattens, the next crawl pays mostly
# duplicates. One distinct (gram, batch) frame, one groupBy(gram), one
# keyed join back — vocabulary-bounded, never pairwise.
# ---------------------------------------------------------------------------


@register(
    "corpus_novelty_growth_curve",
    oracle=f"""
WITH {NGRAMS_SQL},
mx AS (SELECT max(doc_id) AS mid FROM documents),
gb AS (
  SELECT DISTINCT g, least(doc_id * 10 // (mid + 1), 9) AS batch
  FROM ng, mx
),
fb AS (SELECT g, min(batch) AS first_batch FROM gb GROUP BY g),
per AS (
  SELECT gb.batch,
    CAST(count(*) AS BIGINT) AS n_grams,
    CAST(count(*) FILTER (WHERE fb.first_batch = gb.batch) AS BIGINT)
      AS n_new_grams
  FROM gb JOIN fb USING (g)
  GROUP BY gb.batch
),
db AS (
  SELECT least(doc_id * 10 // (mid + 1), 9) AS batch,
    CAST(count(*) AS BIGINT) AS n_docs
  FROM documents, mx GROUP BY 1
)
SELECT per.batch, db.n_docs, per.n_grams, per.n_new_grams,
  CAST(per.n_new_grams * 1000000 // per.n_grams AS BIGINT)
    AS novelty_ppm
FROM per JOIN db ON db.batch = per.batch
ORDER BY per.batch
""",
)
def corpus_novelty_growth_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per ingest-order decile: (batch, n_docs, n_grams, n_new_grams,
    novelty_ppm) — the marginal-novelty curve of corpus growth."""
    from bpaotu_spark.dedup.core import doc_ngrams

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("mid"))
    batch = "least(doc_id * 10 DIV (mid + 1), CAST(9 AS BIGINT))"
    gb = (
        doc_ngrams(spark, sf_dir)
        .crossJoin(F.broadcast(mx))
        .select(F.expr(batch).alias("batch"), "g")
        .distinct()
    )
    fb = gb.groupBy("g").agg(F.min("batch").alias("first_batch"))
    per = (
        gb.join(fb, "g")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.count(F.when(F.col("first_batch") == F.col("batch"), 1))
            .cast("bigint")
            .alias("n_new_grams"),
        )
    )
    db = (
        docs.crossJoin(F.broadcast(mx))
        .select(F.expr(batch).alias("batch"))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return (
        per.join(db, "batch")
        .select(
            "batch",
            "n_docs",
            "n_grams",
            "n_new_grams",
            F.expr("CAST(n_new_grams * 1000000 DIV n_grams AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
        .orderBy("batch")
    )


def base_simhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing SimHash index: the base corpus's (doc_id, simhash)
    table — the full-corpus store artifact filtered to base ids."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.sigstore import full_simhash_index

    return cached_frame(
        spark,
        sf_dir,
        "simhash_sig_b8",
        lambda: full_simhash_index(spark, sf_dir).filter(
            DROP.spark(member=False)
        ),
        table="documents",
    )


def augment_simhash_index(
    spark: SparkSession, base_sig: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """Insert ``new_docs`` (doc_id, text; ids disjoint from the base)
    into the standing signature index and emit only the new candidate
    pairs: (doc_a, doc_b, hamming, n_new_in_pair). The banded join
    probes with the drop; AQE skew-join splits hot band buckets as in
    the batch operator."""
    from bpaotu_spark.dedup.core import (
        HAMMING_MAX,
        simhash_banded,
        simhash_signatures,
    )

    new_sig = simhash_signatures(
        new_docs.select("doc_id", "text")
    ).localCheckpoint()
    all_sig = base_sig.withColumn("is_new", F.lit(0)).unionByName(
        new_sig.withColumn("is_new", F.lit(1))
    )
    x = simhash_banded(new_sig).select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        "b",
        "band_val",
    )
    # is_new rides through the band explode (simhash_banded passes
    # extra columns through), so no recovery self-join
    y = simhash_banded(all_sig).select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.col("is_new").alias("b_new"),
        F.col("b").alias("b_y"),
        F.col("band_val").alias("bv_y"),
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # new-vs-old plus ordered new-vs-new (doc_a < doc_b kills the
    # duplicate orientation), then normalized
    return (
        x.join(
            y,
            (x.b == y.b_y)
            & (x.band_val == y.bv_y)
            & (
                ((F.col("b_new") == 0))
                | (F.col("doc_a") < F.col("doc_b"))
            )
            & (F.col("doc_a") != F.col("doc_b")),
        )
        .filter(hamming <= HAMMING_MAX)
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            hamming.alias("hamming"),
            (F.lit(1) + F.col("b_new")).cast("bigint").alias("n_new_in_pair"),
        )
        .distinct()
    )


def _simhash_inc_oracle() -> str:
    from bpaotu_spark.dedup.core import HAMMING_MAX

    return f"""{_simhash_sql()}
SELECT DISTINCT
  x.doc_id AS doc_a, y.doc_id AS doc_b,
  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming,
  {_n_new_sql("x.doc_id", "y.doc_id")}
    AS n_new_in_pair
FROM banded x JOIN banded y
  ON x.b = y.b AND x.band_val = y.band_val AND x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {HAMMING_MAX}
  AND ({DROP.sql("x.doc_id")} OR {DROP.sql("y.doc_id")})
"""


@register("dedup_incremental_simhash", oracle=_simhash_inc_oracle())
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly incremental SimHash dedup: insert the drop into the
    persisted signature index and emit only the new-involving
    Hamming≤max pairs (the oracle is the from-scratch union run)."""
    return augment_simhash_index(
        spark, base_simhash_index(spark, sf_dir), _drop_docs(spark, sf_dir)
    )


def base_embedding_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing sign-LSH index: (vec_id, bucket, v, nrm) of the
    base vectors, persisted through the index store."""
    from bpaotu_spark.ann.index_store import cached_frame
    from bpaotu_spark.dedup.core import _emb_bucket, norm

    def build() -> DataFrame:
        emb = (
            load_table(spark, sf_dir, "embeddings")
            .filter(DROP.spark("vec_id", member=False))
            .select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("v"),
            )
        )
        return emb.withColumn("bucket", _emb_bucket(F.col("v"))).withColumn(
            "nrm", norm(F.col("v"))
        )

    return cached_frame(
        spark, sf_dir, "emb_lsh_b8", build, table="embeddings"
    )


def augment_embedding_index(
    spark: SparkSession, base_idx: DataFrame, new_emb: DataFrame
) -> DataFrame:
    """Insert ``new_emb`` (vec_id, embedding; ids disjoint from the
    base) into the standing bucket index and emit only the new
    near-dup pairs: (vec_a, vec_b, bucket, cos_sim, n_new_in_pair).
    The bucket join is salted as in the batch operator (base side
    replicated S×, probe salt = id mod S)."""
    from bpaotu_spark.dedup.core import (
        COSINE_DUP_THRESHOLD,
        _LSH_JOIN_PARTS,
        _LSH_SALT,
        _emb_bucket,
        dot,
        norm,
    )

    new_idx = (
        new_emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("bucket", _emb_bucket(F.col("v")))
        .withColumn("nrm", norm(F.col("v")))
        .localCheckpoint()
    )
    probe = (
        new_idx.select(
            F.col("vec_id").alias("n_id"),
            "bucket",
            F.col("v").alias("va"),
            F.col("nrm").alias("na"),
        )
        .withColumn(
            "salt", F.pmod(F.col("n_id"), F.lit(_LSH_SALT)).cast("int")
        )
        .repartition(_LSH_JOIN_PARTS, "bucket", "salt")
    )
    build_side = (
        base_idx.select(
            F.col("vec_id").alias("o_id"),
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
    cos_no = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    new_old = (
        probe.join(
            build_side,
            (probe.bucket == build_side.bucket_b)
            & (probe.salt == build_side.salt_b),
        )
        .filter(cos_no >= COSINE_DUP_THRESHOLD)
        .select(
            F.least("n_id", "o_id").alias("vec_a"),
            F.greatest("n_id", "o_id").alias("vec_b"),
            "bucket",
            F.round(cos_no, 4).cast("double").alias("cos_sim"),
            F.lit(1).cast("bigint").alias("n_new_in_pair"),
        )
    )
    na_ = new_idx.select(
        F.col("vec_id").alias("vec_a"),
        "bucket",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    nb_ = new_idx.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket").alias("bucket_y"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos_nn = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # delta-vs-delta: bucket-keyed self-join over the (small) drop
    new_new = (
        na_.join(
            nb_,
            (na_.bucket == nb_.bucket_y) & (na_.vec_a < nb_.vec_b),
        )
        .filter(cos_nn >= COSINE_DUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "bucket",
            F.round(cos_nn, 4).cast("double").alias("cos_sim"),
            F.lit(2).cast("bigint").alias("n_new_in_pair"),
        )
    )
    return new_old.unionByName(new_new)


def _emb_inc_oracle() -> str:
    from bpaotu_spark.dedup.core import (
        COSINE_DUP_THRESHOLD,
        COSINE_SQL,
        _emb_bucket_sql,
    )

    return f"""
SELECT
  a.vec_id AS vec_a, b.vec_id AS vec_b,
  {_emb_bucket_sql('a')} AS bucket,
  CAST(round({COSINE_SQL}, 4) AS DOUBLE) AS cos_sim,
  {_n_new_sql("a.vec_id", "b.vec_id")}
    AS n_new_in_pair
FROM embeddings a JOIN embeddings b
  ON {_emb_bucket_sql('a')} = {_emb_bucket_sql('b')} AND a.vec_id < b.vec_id
WHERE {COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
  AND ({DROP.sql("a.vec_id")} OR {DROP.sql("b.vec_id")})
"""


@register("dedup_incremental_embedding", oracle=_emb_inc_oracle())
def dedup_incremental_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nightly incremental embedding dedup: insert the drop's vectors
    into the persisted sign-LSH bucket index and emit only the
    new-involving cosine near-dup pairs (the oracle is the
    from-scratch union run)."""
    new_emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(DROP.spark("vec_id"))
        .select("vec_id", "embedding")
    )
    return augment_embedding_index(
        spark, base_embedding_index(spark, sf_dir), new_emb
    )


# ---------------------------------------------------------------------------
# Deletes: per hash group or bucket touched by a change, the sizes and
# min-id representative before and after it (one census for both
# engines), plus the bucket's lifecycle state. Only touched keys are
# read (a broadcast of the touched key set into the standing index).
# ---------------------------------------------------------------------------

def _census(
    rows: DataFrame,
    touched: DataFrame,
    keys: list[str],
    idcol: str,
    after: Column,
    before: Column | None = None,
) -> DataFrame:
    """Per key of ``touched``: (m_before, m_after, old_rep, new_rep) —
    the count and min ``idcol`` of the ``rows`` kept before (all when
    ``before`` is None) and after the change."""

    def n(keep: Column | None) -> Column:
        return F.count(F.lit(1) if keep is None else F.when(keep, 1))

    def rep(keep: Column | None) -> Column:
        return F.min(idcol if keep is None else F.when(keep, F.col(idcol)))

    return (
        rows.join(F.broadcast(touched), keys)
        .groupBy(*keys)
        .agg(
            n(before).cast("bigint").alias("m_before"),
            n(after).cast("bigint").alias("m_after"),
            rep(before).alias("old_rep"),
            rep(after).alias("new_rep"),
        )
    )


def _census_sql(
    src: str,
    keys: list[str],
    idcol: str,
    touched: str,
    after: str,
    before: str | None = None,
) -> str:
    """``aff`` (the touched keys) and ``st``: the SQL twin of
    :func:`_census` over CTE ``src``."""

    def n(keep: str | None) -> str:
        if keep is None:
            return "count(*)"
        return f"count(CASE WHEN {keep} THEN 1 END)"

    def rep(keep: str | None) -> str:
        if keep is None:
            return f"min({idcol})"
        return f"min(CASE WHEN {keep} THEN {idcol} END)"

    grp = ", ".join(f"{src}.{k}" for k in keys)
    on = " AND ".join(f"aff.{k} = {src}.{k}" for k in keys)
    return f"""aff AS (
  SELECT DISTINCT {", ".join(keys)} FROM {src}
  WHERE {touched}
),
st AS (
  SELECT {grp},
    CAST({n(before)} AS BIGINT) AS m_before,
    CAST({n(after)} AS BIGINT) AS m_after,
    {rep(before)} AS old_rep,
    {rep(after)} AS new_rep
  FROM {src} JOIN aff ON {on}
  GROUP BY {grp}
)"""


def _tomb_census(idx: DataFrame, keys: list[str], dead: IdSet) -> DataFrame:
    touched = idx.filter(dead.spark()).select(*keys).distinct()
    return _census(idx, touched, keys, dead.col, dead.spark(member=False))


def _tomb_census_sql(src: str, keys: list[str], dead: IdSet) -> str:
    return _census_sql(
        src, keys, dead.col, dead.sql(), dead.sql(member=False)
    )


def _report(
    keys: list[str],
    div: str,
    capped: bool = False,
    newly_capped: bool = False,
    rep_changed: bool = True,
    pairs: str = "n_cand_pairs_after",
) -> list[str]:
    """The bucket report columns after the census, as SQL both engines
    parse; only the integer division operator (``div``) differs. A
    capped family (MinHash) pairs only buckets of 2..``LSH_BUCKET_CAP``
    members, so a delete can revive a capped bucket and an insert can
    newly cap one."""
    cap = LSH_BUCKET_CAP
    states = ["WHEN m_after < 2 THEN 'dead'"]
    if newly_capped:
        states.append(
            f"WHEN m_after > {cap} AND (m_before BETWEEN 2 AND {cap})"
            " THEN 'newly_capped'"
        )
    if capped:
        states += [
            f"WHEN m_after > {cap} THEN 'capped'",
            f"WHEN m_before > {cap} THEN 'revived'",
        ]
    live = f"m_after BETWEEN 2 AND {cap}" if capped else "m_after >= 2"
    cols = [*keys, "m_before", "m_after", "old_rep", "new_rep"]
    if rep_changed:
        cols.append("(new_rep IS NULL OR new_rep != old_rep) AS rep_changed")
    return cols + [
        f"CASE {' '.join(states)} ELSE 'active' END AS status",
        f"CASE WHEN {live} THEN m_after * (m_after - 1) {div} 2"
        f" ELSE CAST(0 AS BIGINT) END AS {pairs}",
    ]


def _report_sql(keys: list[str], **kw) -> str:
    return f"""
SELECT {", ".join(_report(keys, "//", **kw))}
FROM st
ORDER BY {", ".join(k.split(" AS ")[-1] for k in keys)}
"""


@register(
    "dedup_tombstone_exact",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
{_tomb_census_sql("h", ["h"], DEAD_DOCS)}
SELECT h.doc_id AS deleted_id,
  st.m_before AS group_size_before,
  (st.old_rep = h.doc_id) AS was_keeper,
  st.new_rep AS new_keeper
FROM h JOIN st ON st.h = h.h
WHERE {DEAD_DOCS.sql("h.doc_id")}
ORDER BY deleted_id
""",
)
def dedup_tombstone_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete the document takedown set from the persisted exact-hash
    index: one row per deleted doc — (deleted_id, group_size_before,
    was_keeper, new_keeper) with the keeper re-elected among the
    group's survivors (NULL when the group dies with the delete)."""
    from bpaotu_spark.dedup.sigstore import full_hash_index

    idx = full_hash_index(spark, sf_dir)
    grp = _tomb_census(idx, ["h"], DEAD_DOCS)
    return (
        idx.filter(DEAD_DOCS.spark())
        .join(grp, "h")
        .select(
            F.col("doc_id").alias("deleted_id"),
            F.col("m_before").alias("group_size_before"),
            (F.col("old_rep") == F.col("doc_id")).alias("was_keeper"),
            F.col("new_rep").alias("new_keeper"),
        )
        .orderBy("deleted_id")
    )


@register(
    "dedup_tombstone_minhash",
    oracle=f"""{_bands_sql()},
{_tomb_census_sql("bands", ["band", "key"], DEAD_DOCS)}
{_report_sql(["band", "key"], capped=True, pairs="n_pairs_after")}""",
)
def dedup_tombstone_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete the document takedown set from the persisted MinHash
    band index: one row per affected (band, key) bucket — sizes,
    re-elected representative, lifecycle status (dead / active /
    capped / revived) and the surviving candidate-pair count."""
    from bpaotu_spark.dedup.sigstore import full_band_index

    keys = ["band", "key"]
    st = _tomb_census(full_band_index(spark, sf_dir), keys, DEAD_DOCS)
    return st.selectExpr(
        *_report(keys, "DIV", capped=True, pairs="n_pairs_after")
    ).orderBy(*keys)


_SIMHASH_KEYS = [
    "CAST(b AS BIGINT) AS b",
    "CAST(band_val AS BIGINT) AS band_val",
]


@register(
    "dedup_tombstone_simhash",
    oracle=f"""{_simhash_sql()},
{_tomb_census_sql("banded", ["b", "band_val"], DEAD_DOCS)}
{_report_sql(_SIMHASH_KEYS)}""",
)
def dedup_tombstone_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete the document takedown set from the persisted SimHash
    index: one row per affected (b, band_val) band bucket. SimHash
    has no bucket cap (pairs still gate on Hamming≤max downstream), so
    the states are dead / active and the count is of candidates."""
    from bpaotu_spark.dedup.core import simhash_banded
    from bpaotu_spark.dedup.sigstore import full_simhash_index

    idx = simhash_banded(full_simhash_index(spark, sf_dir)).select(
        "doc_id", "b", "band_val"
    )
    st = _tomb_census(idx, ["b", "band_val"], DEAD_DOCS)
    return st.selectExpr(*_report(_SIMHASH_KEYS, "DIV")).orderBy(
        "b", "band_val"
    )


def _emb_tomb_oracle() -> str:
    from bpaotu_spark.dedup.core import _emb_bucket_sql

    return f"""
WITH idx AS (
  SELECT e.vec_id, {_emb_bucket_sql('e')} AS bucket FROM embeddings e
),
{_tomb_census_sql("idx", ["bucket"], DEAD_VECS)}
{_report_sql(["bucket"])}"""


@register("dedup_tombstone_embedding", oracle=_emb_tomb_oracle())
def dedup_tombstone_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete the vector takedown set from the persisted sign-LSH
    bucket index: one row per affected bucket (states dead / active,
    as for SimHash)."""
    from bpaotu_spark.dedup.sigstore import full_emb_bucket_index

    idx = full_emb_bucket_index(spark, sf_dir)
    st = _tomb_census(idx, ["bucket"], DEAD_VECS)
    return st.selectExpr(*_report(["bucket"], "DIV")).orderBy("bucket")


# ---------------------------------------------------------------------------
# dedup_maintenance_cycle — the nightly cycle end to end: tonight's
# drop AND tonight's takedown applied to the exact-hash index in one
# pass, emitting the canonical-map delta (the rows a downstream
# consumer upserts). Keeper elections resolve across both changes: an
# inserted doc with a smaller id can take a keepership at the moment a
# deleted keeper releases one. One row per post-cycle doc whose
# canonical assignment is created ('inserted') or changed ('rekeyed');
# everything untouched stays out, which bounds the write volume.
# ---------------------------------------------------------------------------


@register(
    "dedup_maintenance_cycle",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
base AS (
  SELECT doc_id, h FROM h WHERE {DROP.sql(member=False)}
),
newd AS (
  SELECT doc_id, h FROM h WHERE {DROP.sql()}
),
aff AS (
  SELECT h FROM base WHERE {DEAD_DOCS.sql()}
  UNION SELECT h FROM newd
),
old_k AS (
  SELECT base.h, min(doc_id) AS old_keeper
  FROM base JOIN aff USING (h) GROUP BY base.h
),
finalm AS (
  SELECT base.doc_id, base.h FROM base JOIN aff USING (h)
  WHERE {DEAD_DOCS.sql("base.doc_id", False)}
  UNION ALL
  SELECT newd.doc_id, newd.h FROM newd
),
new_k AS (
  SELECT h, min(doc_id) AS canonical_id FROM finalm GROUP BY h
)
SELECT f.doc_id, k.canonical_id,
  CASE WHEN {DROP.sql("f.doc_id")} THEN 'inserted'
       ELSE 'rekeyed' END AS change
FROM finalm f
JOIN new_k k ON k.h = f.h
LEFT JOIN old_k o ON o.h = f.h
WHERE {DROP.sql("f.doc_id")}
   OR o.old_keeper IS NULL
   OR k.canonical_id != o.old_keeper
ORDER BY f.doc_id
""",
)
def dedup_maintenance_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tonight's insert + tonight's takedown through the exact-hash
    index in one pass: (doc_id, canonical_id, change ∈ {inserted,
    rekeyed}) — the canonical-map delta the cycle must upsert. Only
    the affected hash groups are touched (broadcast lookup into the
    persisted membership table)."""
    from bpaotu_spark.dedup.sigstore import full_hash_index

    base = full_hash_index(spark, sf_dir).filter(DROP.spark(member=False))
    # the drop hashes fresh — in production it is not in the standing
    # index yet; the persisted artifact just happens to cover it
    newd = _drop_docs(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("h")
    )
    aff = (
        base.filter(DEAD_DOCS.spark())
        .select("h")
        .union(newd.select("h"))
        .distinct()
    )
    old_k = (
        base.join(F.broadcast(aff), "h")
        .groupBy("h")
        .agg(F.min("doc_id").alias("old_keeper"))
    )
    finalm = (
        base.join(F.broadcast(aff), "h")
        .filter(DEAD_DOCS.spark(member=False))
        .select("doc_id", "h")
        .unionByName(newd.select("doc_id", "h"))
    )
    new_k = finalm.groupBy("h").agg(F.min("doc_id").alias("canonical_id"))
    return (
        finalm.join(new_k, "h")
        .join(old_k, "h", "left")
        .filter(
            DROP.spark()
            | F.col("old_keeper").isNull()
            | (F.col("canonical_id") != F.col("old_keeper"))
        )
        .select(
            "doc_id",
            "canonical_id",
            F.when(DROP.spark(), "inserted")
            .otherwise("rekeyed")
            .alias("change"),
        )
        .orderBy("doc_id")
    )


def _cycle_minhash_oracle() -> str:
    keys = ["band", "key"]
    census = _census_sql(
        "bands",
        keys,
        "doc_id",
        f"{DROP.sql()} OR {DEAD_DOCS.sql()}",
        after=DEAD_DOCS.sql(member=False),
        before=DROP.sql(member=False),
    )
    report = _report_sql(
        keys,
        capped=True,
        newly_capped=True,
        rep_changed=False,
        pairs="n_pairs_after",
    )
    return f"{_bands_sql()},\n{census}\n{report}"


@register("dedup_maintenance_cycle_minhash", oracle=_cycle_minhash_oracle())
def dedup_maintenance_cycle_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The MinHash twin of ``dedup_maintenance_cycle``: the drop's band
    rows inserted and the takedown's removed through the persisted
    base band index in one pass — per touched (band, key) bucket the
    sizes, re-elected representative, lifecycle status (incl.
    newly_capped: an insert pushing a bucket over the pair cap, which
    the incremental pair former must then skip) and the post-cycle
    candidate-pair count."""
    base_bands, _ = base_band_index(spark, sf_dir)
    # the drop's band rows are delta work (its docs are not in the
    # standing index); tombstones are base rows by construction
    drop_bands = minhash_bands(_drop_docs(spark, sf_dir)).localCheckpoint()
    keys = ["band", "key"]
    allb = base_bands.select("doc_id", *keys).unionByName(
        drop_bands.select("doc_id", *keys)
    )
    touched = (
        drop_bands.select(*keys)
        .unionByName(base_bands.filter(DEAD_DOCS.spark()).select(*keys))
        .distinct()
    )
    st = _census(
        allb,
        touched,
        keys,
        "doc_id",
        after=DEAD_DOCS.spark(member=False),
        before=DROP.spark(member=False),
    )
    return st.selectExpr(
        *_report(
            keys,
            "DIV",
            capped=True,
            newly_capped=True,
            rep_changed=False,
            pairs="n_pairs_after",
        )
    ).orderBy(*keys)


# ---------------------------------------------------------------------------
# Consolidation: the debt census, the compaction it decides, the
# generation swap that serves the compacted artifacts, and the first
# drop inserted into the promoted base. The census row counts are
# predicted from scratch by the oracle: a doc owns one hash row, one
# simhash row iff it has >= 1 token and LSH_BANDS band rows iff it has
# >= 3 (one shingle); a vector owns one bucket row. An empty family
# has no dead share: its verdict is NULL, as in the oracle.
# ---------------------------------------------------------------------------


def family_surfaces(
    spark: SparkSession,
    sf_dir: str,
    docs: IdSet = DEAD_DOCS,
    vecs: IdSet = DEAD_VECS,
) -> dict[str, tuple[DataFrame, Column, str, str]]:
    """Per dedup index family: (full persisted index, dead-row
    predicate, fingerprint table, compact-artifact name)."""
    from bpaotu_spark.dedup.sigstore import (
        full_band_index,
        full_emb_bucket_index,
        full_hash_index,
        full_simhash_index,
    )

    doc_dead = docs.spark()
    return {
        "exact": (full_hash_index(spark, sf_dir), doc_dead, "documents",
                  "dedup_hash_compact"),
        "minhash": (full_band_index(spark, sf_dir), doc_dead, "documents",
                    "dedup_bands_compact"),
        "simhash": (full_simhash_index(spark, sf_dir), doc_dead,
                    "documents", "simhash_sig_compact"),
        "embedding": (full_emb_bucket_index(spark, sf_dir), vecs.spark(),
                      "embeddings", "emb_lsh_compact"),
    }


def debt_rows(
    spark: SparkSession,
    sf_dir: str,
    doc_mod: int = DEAD_DOCS.mod,
    doc_res: int = DEAD_DOCS.res,
    vec_mod: int = DEAD_VECS.mod,
    vec_res: int = DEAD_VECS.res,
    threshold_ppm: int = DEBT_THRESHOLD_PPM,
) -> DataFrame:
    """The per-family debt census over the PERSISTED indexes —
    (family, n_rows, n_dead, dead_ppm, threshold_ppm, consolidate) —
    with the takedown sets and the cutoff as parameters."""
    fams = family_surfaces(
        spark,
        sf_dir,
        IdSet("doc_id", doc_mod, doc_res),
        IdSet("vec_id", vec_mod, vec_res),
    )
    rows = [
        src.agg(
            F.lit(family).alias("family"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count(F.when(dead, 1)).cast("bigint").alias("n_dead"),
        )
        for family, (src, dead, _table, _name) in fams.items()
    ]
    # NULL, not a division error, for an empty family (the oracle's
    # integer division by zero is NULL too)
    ppm = F.expr("n_dead * 1000000 div nullif(n_rows, 0)")
    return reduce(DataFrame.unionByName, rows).select(
        "family",
        "n_rows",
        "n_dead",
        ppm.alias("dead_ppm"),
        F.lit(threshold_ppm).cast("bigint").alias("threshold_ppm"),
        (ppm >= threshold_ppm).alias("consolidate"),
    )


def _debts(spark: SparkSession, sf_dir: str) -> dict:
    """The 4-row census by family: a bounded-metadata driver pull that
    decides which artifacts to rebuild (scheduling, not row data)."""
    return {r["family"]: r for r in debt_rows(spark, sf_dir).collect()}


def _census_oracle(select: str) -> str:
    """``select`` over ``fam``, the census from scratch: per family
    (n_rows, n_dead, n_surv, sum_surv)."""
    from bpaotu_spark.functions.textops import TOKENIZE_SQL

    def fam(name: str, src: str, ids: IdSet, scope="", k="") -> str:
        def n(p: str) -> str:
            return f"CAST({k}count(*) FILTER (WHERE {scope}{p}) AS BIGINT)"

        surv = ids.sql(member=False)
        return f"""  SELECT '{name}' AS family, {n("TRUE")} AS n_rows,
    {n(ids.sql())} AS n_dead, {n(surv)} AS n_surv,
    CAST({k}sum({ids.col}) FILTER (WHERE {scope}{surv}) AS BIGINT) AS sum_surv
  FROM {src}"""

    fams = "\n  UNION ALL\n".join([
        fam("exact", "documents", DEAD_DOCS),
        fam("minhash", "dd", DEAD_DOCS, "nt >= 3 AND ", f"{LSH_BANDS} * "),
        fam("simhash", "dd", DEAD_DOCS, "nt >= 1 AND "),
        fam("embedding", "embeddings", DEAD_VECS),
    ])
    return f"""
WITH dd AS (
  SELECT doc_id, len({TOKENIZE_SQL}) AS nt FROM documents
),
fam AS (
{fams}
)
{select}
FROM fam
"""


# the census verdict, NULL for an empty family
_VERDICT_SQL = f"(n_dead * 1000000 // n_rows) >= {DEBT_THRESHOLD_PPM}"


@register(
    "index_tombstone_debt",
    oracle=_census_oracle(f"""SELECT family, n_rows, n_dead,
  n_dead * 1000000 // n_rows AS dead_ppm,
  CAST({DEBT_THRESHOLD_PPM} AS BIGINT) AS threshold_ppm,
  {_VERDICT_SQL} AS consolidate"""),
)
def index_tombstone_debt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per dedup index family — (family, n_rows, n_dead,
    dead_ppm, threshold_ppm, consolidate): the standing takedown debt
    in each PERSISTED index and the consolidate verdict. The document
    families sit above the cutoff and the vector family below, so the
    verdict is mixed by construction."""
    return debt_rows(spark, sf_dir)


def compact_cached(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """The survivor-only compacted index of ``family``, published
    through the store (built on first touch; the consolidate job's
    output artifact)."""
    from bpaotu_spark.ann.index_store import cached_frame

    src, dead, table, name = family_surfaces(spark, sf_dir)[family]
    return cached_frame(
        spark,
        sf_dir,
        name,
        lambda: src.filter(~dead),
        table=table,
    )


@register(
    "dedup_index_compact",
    oracle=_census_oracle(f"""SELECT family,
  {_VERDICT_SQL} AS consolidated,
  n_rows AS n_rows_before,
  CASE WHEN {_VERDICT_SQL}
       THEN n_rows - n_dead ELSE n_rows END AS n_rows_after,
  CASE WHEN {_VERDICT_SQL}
       THEN n_dead ELSE CAST(0 AS BIGINT) END AS n_reclaimed,
  CASE WHEN {_VERDICT_SQL}
       THEN CAST(0 AS BIGINT) ELSE n_dead END AS residual_dead_rows"""),
)
def dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the consolidate verdicts: for every dedup family above
    the cutoff, build and PUBLISH the survivor-only index through the
    store, and emit the compaction receipt — (family, consolidated,
    n_rows_before, n_rows_after, n_reclaimed, residual_dead_rows).
    residual_dead_rows counts tombstoned rows still present in the
    artifact the family's queries would now read: 0 after a
    compaction, the standing debt for no-op families."""
    debts = _debts(spark, sf_dir)
    receipts = []
    for family, (src, dead, _table, _name) in family_surfaces(
        spark, sf_dir
    ).items():
        d = debts[family]
        served = src
        if d["consolidate"]:
            served = compact_cached(spark, sf_dir, family)
        receipts.append(
            served.agg(
                F.lit(family).alias("family"),
                F.lit(d["consolidate"]).cast("boolean").alias("consolidated"),
                F.lit(d["n_rows"]).cast("bigint").alias("n_rows_before"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows_after"),
                F.lit(d["n_dead"] if d["consolidate"] else 0)
                .cast("bigint")
                .alias("n_reclaimed"),
                F.count(F.when(dead, 1)).cast("bigint").alias(
                    "residual_dead_rows"
                ),
            )
        )
    return reduce(DataFrame.unionByName, receipts)


def epoch2_serving(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[DataFrame, DataFrame, bool | None]]:
    """The post-promotion serving state per dedup family:
    ``family -> (serving_artifact, serving_view, promoted)``. A family
    promotes iff the census consolidated it: it then serves its
    compact artifact with no takedown filter (the set reset). Other
    families keep serving the full artifact behind the standing filter.
    ``promoted`` is the census verdict itself (NULL when empty)."""
    debts = _debts(spark, sf_dir)
    out: dict[str, tuple[DataFrame, DataFrame, bool | None]] = {}
    for family, (src, dead, _table, _name) in family_surfaces(
        spark, sf_dir
    ).items():
        promoted = debts[family]["consolidate"]
        if promoted:
            art = compact_cached(spark, sf_dir, family)
            out[family] = (art, art, promoted)
        else:
            out[family] = (src, src.filter(~dead), promoted)
    return out


@register(
    "dedup_epoch_promote",
    oracle=_census_oracle(f"""SELECT family,
  {_VERDICT_SQL} AS promoted,
  n_surv AS n_rows_serving,
  sum_surv AS sum_ids_serving,
  CAST(0 AS BIGINT) AS n_missing_vs_rebuild,
  CAST(0 AS BIGINT) AS n_extra_vs_rebuild,
  CASE WHEN {_VERDICT_SQL}
       THEN CAST(0 AS BIGINT) ELSE n_dead END AS n_dead_in_artifact"""),
)
def dedup_epoch_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generation-swap receipt: one row per family — (family,
    promoted, n_rows_serving, sum_ids_serving, n_missing_vs_rebuild,
    n_extra_vs_rebuild, n_dead_in_artifact). The Spark side reads the
    PROMOTED serving state and diffs it row for row (two anti-joins on
    the full row key) against a fresh build over the survivors; the
    oracle predicts every number from scratch, so a stale or drifted
    promoted artifact fails the compare."""
    surfaces = family_surfaces(spark, sf_dir)
    rows = []
    for family, (art, view, promoted) in epoch2_serving(spark, sf_dir).items():
        src, dead, _table, _name = surfaces[family]
        idcol = "vec_id" if family == "embedding" else "doc_id"
        keys = list(art.columns)
        rebuild_view = src.filter(~dead)
        sv = view.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_serving"),
            F.sum(idcol).cast("bigint").alias("sum_ids_serving"),
        )
        miss = rebuild_view.join(view, keys, "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_missing_vs_rebuild")
        )
        extra = view.join(rebuild_view, keys, "left_anti").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_extra_vs_rebuild")
        )
        deadr = art.agg(
            F.count(F.when(dead, 1)).cast("bigint").alias("n_dead_in_artifact")
        )
        rows.append(
            # four 1-row aggregates — bounded broadcast crossJoins
            sv.crossJoin(miss)
            .crossJoin(extra)
            .crossJoin(deadr)
            .select(
                F.lit(family).alias("family"),
                F.lit(promoted).cast("boolean").alias("promoted"),
                "n_rows_serving",
                "sum_ids_serving",
                "n_missing_vs_rebuild",
                "n_extra_vs_rebuild",
                "n_dead_in_artifact",
            )
        )
    return reduce(DataFrame.unionByName, rows)


def epoch2_band_base(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The promoted standing band index minus tonight's drop, plus its
    bucket-size summary — :func:`base_band_index` over the COMPACT
    artifact (no takedown filter: the base holds survivors only)."""
    from bpaotu_spark.ann.index_store import cached_frame

    bands = cached_frame(
        spark,
        sf_dir,
        "dedup_bands_e2b8",
        lambda: compact_cached(spark, sf_dir, "minhash").filter(
            DROP.spark(member=False)
        ),
        table="documents",
    )
    return bands, _bucket_sizes(spark, sf_dir, "dedup_bandsz_e2b8", bands)


@register(
    "dedup_epoch_incremental",
    oracle=_incremental_pairs_sql(DEAD_DOCS.sql(member=False)),
)
def dedup_epoch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch-2 nightly insert: the drop probed against the PROMOTED
    band base — (doc_a, doc_b, n_shared_bands, n_new_in_pair),
    new-involving pairs only. No takedown filter is on the path; the
    oracle is the from-scratch run over the survivor corpus."""
    bands, sizes = epoch2_band_base(spark, sf_dir)
    return augment_dedup_index(spark, bands, sizes, _drop_docs(spark, sf_dir))
