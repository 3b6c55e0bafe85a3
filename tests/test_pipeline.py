"""Training-pipeline operators: split determinism, sampling, cleaning."""

from __future__ import annotations

import pyspark.sql.functions as F

from bpaotu_spark.operators.pipeline import hash_bucket
from bpaotu_spark.registry import QUERIES, load_all

load_all()


def test_split_deterministic_and_covering(spark, sf_dir, tables):
    a = {(r.doc_id, r.split) for r in QUERIES["train_test_split"](spark, sf_dir).collect()}
    b = {(r.doc_id, r.split) for r in QUERIES["train_test_split"](spark, sf_dir).collect()}
    assert a == b  # rerun-stable
    assert len(a) == tables["documents"].count()
    from collections import Counter

    frac = Counter(s for _, s in a)
    n = len(a)
    assert 0.7 < frac["train"] / n < 0.9
    assert frac["train"] + frac["valid"] + frac["test"] == n


def test_split_is_map_only(spark, sf_dir):
    df = QUERIES["train_test_split"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # no shuffle: the split rides the scan


def test_stratified_sample_rate_per_lang(spark, sf_dir, tables):
    sample = QUERIES["sample_stratified"](spark, sf_dir).collect()
    total = tables["documents"].count()
    assert 0.04 < len(sample) / total < 0.2  # ~10% of 500 docs
    # per-stratum: every language retains some docs at this corpus size
    langs_all = {r.lang for r in tables["documents"].select("lang").distinct().collect()}
    langs_sampled = {r.lang for r in sample}
    assert langs_sampled <= langs_all


def test_hash_bucket_range(spark):
    df = spark.range(1000).select(hash_bucket(F.col("id"), 7).alias("b"))
    vals = {r.b for r in df.collect()}
    assert vals == set(range(7))


def test_corpus_clean_counts_bounded(spark, sf_dir, tables):
    rows = QUERIES["corpus_clean_pipeline"](spark, sf_dir).collect()
    assert rows
    total_kept = sum(r.n_docs for r in rows)
    assert 0 < total_kept <= tables["documents"].count()


def test_q4_semi_join_plan(spark, sf_dir):
    df = QUERIES["q4_order_priority"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "LeftSemi" in plan


def test_moving_avg_window_trailing(spark, sf_dir):
    rows = sorted(
        QUERIES["moving_avg_window"](spark, sf_dir).collect(), key=lambda r: r.day
    )
    # first day's ma7 == its own revenue (nothing precedes it)
    assert abs(rows[0].ma7 - rows[0].revenue) < 1e-6


def test_approx_distinct_close_to_exact(spark, sf_dir, tables):
    rows = QUERIES["approx_distinct_parts"](spark, sf_dir).collect()
    li = tables["lineitem"]
    for r in rows:
        exact = (
            li.filter(F.col("l_returnflag") == r.l_returnflag)
            .select("l_partkey")
            .distinct()
            .count()
        )
        assert abs(r.approx_parts - exact) / exact < 0.1


def test_token_stats_df_le_tf_and_sorted(spark, sf_dir):
    rows = QUERIES["corpus_token_stats"](spark, sf_dir).collect()
    assert rows, "no tokens"
    tfs = [r.tf for r in rows]
    assert tfs == sorted(tfs, reverse=True)
    for r in rows:
        assert 1 <= r.df <= r.tf


def test_repetition_ratio_bounds_and_exactness(spark, sf_dir):
    """Ratios are exact integer ppm in (0, 1e6]; distinct_ppm == 1e6
    iff every token is unique; top shares bounded below by 1/n."""
    rows = QUERIES["text_repetition_ratio"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.distinct_ppm <= 1_000_000
        assert 0 < r.top_token_ppm <= 1_000_000
        assert 0 < r.top_bigram_ppm <= 1_000_000
        # top token occurs at least ceil(n/distinct) times
        assert r.top_token_ppm >= 1_000_000 // r.n_tokens


def test_pack_sequences_contiguous_chunks(spark, sf_dir):
    """Within each lang stream, chunk assignment is the running prefix
    sum div budget: chunk_idx is non-decreasing in doc_id order and
    offsets are consistent with the previous doc's extent."""
    from bpaotu_spark.operators.pipeline import PACK_BUDGET

    rows = QUERIES["corpus_pack_sequences"](spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang) > 1
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        run = 0
        for r in rs:
            assert r.chunk_idx == run // PACK_BUDGET
            assert r.chunk_offset == run % PACK_BUDGET
            run += r.n_tokens


def test_near_dedup_keep_first_covers_corpus(spark, sf_dir, tables):
    """One verdict per document; keepers are exactly the cluster minima;
    every cluster keeps exactly one document."""
    rows = QUERIES["corpus_near_dedup_keep_first"](spark, sf_dir).collect()
    assert len(rows) == tables["documents"].count()
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r)
    for cid, members in clusters.items():
        kept = [m for m in members if m.is_kept]
        assert len(kept) == 1 and kept[0].doc_id == cid
        assert min(m.doc_id for m in members) == cid


def test_packed_token_offsets_multi_shard_matches_naive(spark):
    """The two-level prefix sum must equal the naive single window for
    MANY shards per stream (the registered query's small fixtures span
    only 1-2 shards at the default shard_range; this pins the general
    case, including empty-shard gaps in a sparse id space)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from bpaotu_spark.operators.pipeline import packed_token_offsets

    rows = [
        (i * 3 + (i % 5), "ab"[i % 2], (i * 7) % 13 + 1) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING, n_tokens BIGINT")
    got = {
        r.doc_id: r.tok_before
        for r in packed_token_offsets(df, ["lang"], shard_range=16).collect()
    }
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    exp = {
        r.doc_id: r.tb
        for r in df.select(
            "doc_id", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("tb")
        ).collect()
    }
    assert got == exp and len(got) == 200


def test_doc_chunk_sliding_covers_every_token(spark, sf_dir, tables):
    """Chunks tile each document: chunk 0 starts at 0, strides are
    constant, every token index is covered, and only the last chunk
    may run short."""
    from bpaotu_spark.operators.pipeline import _CHUNK_STRIDE, _CHUNK_TOKS

    rows = QUERIES["doc_chunk_sliding"](spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == tables["documents"].count()
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_idx)
        assert [r.chunk_idx for r in rs] == list(range(len(rs)))
        for r in rs[:-1]:
            assert r.chunk_len == _CHUNK_TOKS
        last = rs[-1]
        assert 0 < last.chunk_len <= _CHUNK_TOKS
        for r in rs:
            assert r.chunk_start == r.chunk_idx * _CHUNK_STRIDE
            assert len(r.chunk_text.split(" ")) == r.chunk_len
        # coverage: last chunk reaches the end token
        n = last.chunk_start + last.chunk_len
        if len(rs) > 1:
            assert n > rs[-2].chunk_start + _CHUNK_TOKS - _CHUNK_STRIDE


def test_doc_chunk_sliding_is_map_only(spark, sf_dir):
    df = QUERIES["doc_chunk_sliding"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan  # narrow: no shuffle anywhere


def test_bigram_pmi_rank_and_support(spark, sf_dir):
    from bpaotu_spark.functions.textops import _PMI_MIN_COUNT, _PMI_TOPK

    rows = QUERIES["bigram_pmi"](spark, sf_dir).collect()
    assert 0 < len(rows) <= _PMI_TOPK
    rows.sort(key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    prev = None
    for r in rows:
        assert r.c_xy >= _PMI_MIN_COUNT
        assert len(r.bigram.split(" ")) == 2
        if prev is not None:
            assert (r.pmi, r.bigram) <= (prev.pmi, r.bigram) or r.pmi <= prev.pmi
        prev = r


def test_lang_length_quartiles_exact_vs_naive(spark, sf_dir, tables):
    """Histogram-CDF quartiles equal brute-force sorted-list selection
    computed driver-side, and quartiles are ordered."""
    import math

    rows = {r.lang: r for r in QUERIES["lang_length_quartiles"](spark, sf_dir).collect()}
    docs = tables["documents"].select("lang", "n_chars").collect()
    by_lang = {}
    for r in docs:
        by_lang.setdefault(r.lang, []).append(r.n_chars)
    assert set(rows) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        r = rows[lang]
        assert r.n_docs == n
        assert r.p25_chars == vals[math.ceil(n / 4) - 1]
        assert r.p50_chars == vals[math.ceil(n / 2) - 1]
        assert r.p75_chars == vals[math.ceil(3 * n / 4) - 1]
        assert r.p25_chars <= r.p50_chars <= r.p75_chars


def test_tfidf_approx_close_to_exact(spark, sf_dir):
    """HLL-df tfidf agrees with the exact operator on most top-term
    picks and never deviates more than the sketch error allows on
    scores for shared (doc, token) pairs."""
    exact = {(r.doc_id, r.token): r.score for r in QUERIES["tfidf_top_terms"](spark, sf_dir).collect()}
    approx = {(r.doc_id, r.token): r.score for r in QUERIES["tfidf_top_terms_approx"](spark, sf_dir).collect()}
    shared = set(exact) & set(approx)
    assert len(shared) / len(exact) > 0.9  # >90% of top picks agree
    for k in shared:
        # rsd=2% on df moves log-idf by at most ~ln(1.05) on this corpus
        assert abs(exact[k] - approx[k]) <= 0.1 * max(1.0, abs(exact[k]))


def test_corpus_final_verdict_funnel_monotone(spark, sf_dir, tables):
    """Stage counts only shrink (funnel property) and totals cover the
    corpus; survival_ppm recomposes exactly."""
    rows = QUERIES["corpus_final_verdict"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == tables["documents"].count()
    for r in rows:
        assert r.n_docs >= r.n_quality >= r.n_dedup >= r.n_final >= 0
        assert r.survival_ppm == r.n_final * 1_000_000 // r.n_docs


def test_bigram_logloss_bounds(spark, sf_dir, tables):
    """Bigram logloss is nonnegative, finite, and the corpus-mean is
    below the unigram-model mean (conditioning can only help on the
    training corpus itself)."""
    bi = QUERIES["text_bigram_logloss"](spark, sf_dir).collect()
    uni = {
        r.doc_id: r.avg_logloss_micronats
        for r in QUERIES["text_unigram_logloss"](spark, sf_dir).collect()
    }
    assert bi
    for r in bi:
        assert r.n_bigrams >= 1
        assert 0 <= r.avg_logloss_micronats < 20_000_000  # < 20 nats
    mean_bi = sum(r.avg_logloss_micronats for r in bi) / len(bi)
    mean_uni = sum(uni.values()) / len(uni)
    assert mean_bi < mean_uni


def test_corpus_mixture_plan_invariants(spark, sf_dir, tables):
    rows = QUERIES["corpus_mixture_plan"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == tables["documents"].count()
    nonzero = [r for r in rows if r.token_mass > 0]
    assert nonzero
    m0 = min(r.token_mass for r in nonzero)
    for r in rows:
        assert 0 <= r.n_pass <= r.n_docs
        assert r.expected_tokens <= r.token_mass  # rate <= 1 always
        if r.token_mass == m0:
            assert r.rate_u16 == 65536  # anchor cell keeps everything
        if r.token_mass == 0:
            assert r.rate_u16 == 0 and r.expected_tokens == 0
