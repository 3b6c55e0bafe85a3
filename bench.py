"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": "sf0.1"}

Each query is forced with the ``noop`` sink (full computation, no
driver collect, no disk write) so the measured time is plan execution,
not result materialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The FROZEN canonical subset (the r2-era queries, unchanged since
# round 2): they run FIRST in the session, right after warm-up, so
# their subtotal (`value_canon` in the output) is comparable
# round-over-round regardless of how many queries the full suite grows
# by — the round-5 lesson was that 205 queries in one JVM session
# inflate per-query times ~1.5-1.8x via codegen-cache/GC pressure,
# drowning the "did this round get faster?" signal. DO NOT reorder or
# edit; every other registered query runs after these, in the
# registry's correctness-sweep order.
CANON = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_per_group",
    "sessionize_events",
    "asof_join",
    "retention_daily",
    "contextual_filter_and",
    "taxonomy_drilldown",
    "abundance_matrix",
    "alpha_diversity",
    "beta_diversity_braycurtis",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "text_quality",
    "corpus_clean_pipeline",
    "train_test_split",
    "q4_order_priority",
    "moving_avg_window",
    "export_biom_triplets",
    "multimodal_decode",
    "ann_ivf_topk",
    "vector_quantize_int8",
    "corpus_token_stats",
    "q16_antijoin_parts",
    "q17_small_quantity_revenue",
    "q18_large_orders",
    "skew_salted_join",
    "range_join_bucketed",
    "events_rollup_reuse",
    "tfidf_top_terms",
    "embedding_label_centroids",
    "contextual_fields_catalog",
    "dedup_ngram_jaccard",
    "q7_nation_volume",
    "q10_returned_items",
    "q19_disjunctive_pushdown",
    "q22_global_sales_opportunity",
    "dedup_embedding_lsh",
    "blast_kmer_similarity",
    "decile_stats",
    "dedup_cluster_cc",
    "text_repetition_ratio",
    "corpus_pack_sequences",
)


def bench_names(qs) -> list[str]:
    """CANON first, then every other key of ``qs`` in ``qs`` order."""
    return [*CANON, *(k for k in qs if k not in CANON)]


def force(df) -> int:
    """Execute the full plan without collecting results to the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def calibrate(spark) -> float:
    """Machine-state calibration probe (r7 VERDICT item 1).

    A fixed, pure-CPU, disk-free job — hash-mix + aggregate over a
    constant 1.6e9-row range with a fixed partition count — timed three
    times; the median is reported as ``calib_sec``. The probe never
    changes across rounds, so round-over-round canonical comparisons
    can be normalized by the calibration ratio: the r7 driver canonical
    regressed +50% on bit-identical plans and data, which only a
    host-state probe can separate from a real plan regression.
    """
    times = []
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 1_600_000_000, 1, 32).selectExpr(
            "sum(hash(id) % 1000003) AS s",
            "count_if(hash(id, 7) % 97 = 0) AS c",
        ).write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    times.sort()
    return round(times[1], 3)


def calibrate_mem(spark) -> float:
    """Memory/shuffle-bandwidth probe (r10 instrument finding).

    The pure-CPU probe above was FLAT TO ANTI-CORRELATED with two
    isolated canon-only runs 20 minutes apart that differed by 25%
    (64.6 s @ calib 0.994 vs 48.5 s @ calib 1.059) — on a Firecracker
    microVM the dominant ambient variable is neighbor memory/IO
    bandwidth, which ALU-bound work cannot see but shuffle-heavy
    queries pay in full. This probe is a fixed shuffle through
    spark.local.dir (same path the real queries' exchanges take);
    median-of-3 as calib_mem_sec. Canonical movement now decomposes
    into (plan × cpu-host × bandwidth-host).
    """
    times = []
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 200_000_000, 1, 32).repartition(64, "id").write.format(
            "noop"
        ).mode("overwrite").save()
        times.append(time.time() - t0)
    times.sort()
    return round(times[1], 3)


# Modules that register the 47 canonical queries — the canon-only mode
# imports ONLY these (9 modules vs the 51 the full registry loads), so
# a canon-only run in a fresh JVM isolates the frozen subset from
# suite-size pressure (registry import cost, codegen-cache growth,
# driver heap from 410 registered plans). VERDICT r9 item 2: the
# canonical subset moved +19.6% driver-to-driver while the pure-CPU
# calib probe moved +3.6%, on untouched plans — this mode measures the
# same 47 plans with the suite-size variable removed.
CANON_MODULES = (
    "bpaotu_spark.operators.olap",
    "bpaotu_spark.operators.events",
    "bpaotu_spark.operators.bpaotu",
    "bpaotu_spark.operators.pipeline",
    "bpaotu_spark.dedup.core",
    "bpaotu_spark.ann.core",
    "bpaotu_spark.functions.textops",
    "bpaotu_spark.multimodal.core",
    "bpaotu_spark.functions.seqsim",
)


def _exchange_count(df) -> int:
    """Shuffle Exchange operators in the EXECUTED physical plan."""
    return (
        df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    )


def bucketed_layout_report(spark, sf_dir: str) -> dict:
    """The 100 TB layout story, measured end-to-end (r14 VERDICT
    item 7): materialize lineitem/orders ONCE as co-bucketed tables
    (bucketBy the order key, same bucket count both sides) and run the
    three recurring fact⋈fact join shapes on the plain-parquet path vs
    the bucketed path, reporting wall time AND the executed plan's
    Exchange count per shape. Broadcast joins are disabled for the
    block on BOTH paths — at 100 TB neither fact side broadcasts, so
    the comparison is shuffle-join vs bucket-co-located join, which is
    exactly the decision a lake layout owner makes."""
    import pyspark.sql.functions as F

    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.io.bucketed import write_bucketed

    n_buckets = 32
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # a previous run's managed-table LOCATION survives the (fresh)
    # derby catalog, and saveAsTable refuses an unregistered existing
    # location — drop both layers before writing
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh_path = wh[len("file:"):] if wh.startswith("file:") else wh
    for t in ("bench_lineitem_b", "bench_orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh_path, t), ignore_errors=True)
    t0 = time.time()
    write_bucketed(lineitem, "bench_lineitem_b", "l_orderkey", n_buckets)
    write_bucketed(orders, "bench_orders_b", "o_orderkey", n_buckets)
    build_sec = round(time.time() - t0, 3)

    def shapes(li, od):
        # the three recurring fact-fact shapes of the OLAP block:
        # q3/q5-style join+agg, q18-style grouped semijoin, and the
        # q21-style same-key self-join
        pri = (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.sum("l_extendedprice").alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
            .filter(F.col("qty") > 150)
            .join(od, F.col("l_orderkey") == od["o_orderkey"])
            .select("o_orderdate", "qty")
        )
        a, b = li.alias("a"), li.alias("b")
        selfj = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
            )
            .groupBy(F.col("a.l_orderkey").alias("ok"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return {"join_agg": pri, "group_join": big, "self_join": selfj}

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out: dict = {
            "n_buckets": n_buckets,
            "build_sec": build_sec,
            "broadcast_disabled": True,
            "shapes": {},
        }
        plain = shapes(lineitem, orders)
        bucketed = shapes(
            spark.table("bench_lineitem_b"), spark.table("bench_orders_b")
        )
        for name in plain:
            row: dict = {}
            for tag, df in (("plain", plain[name]), ("bucketed", bucketed[name])):
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    force(df)
                    best = min(best, time.time() - t0)
                row[f"{tag}_sec"] = round(best, 3)
                row[f"{tag}_exchanges"] = _exchange_count(df)
            out["shapes"][name] = row
        return out
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev_thresh
        )


def canon_only() -> int:
    """Run ONLY the frozen 47-query canonical subset in this JVM.

    Median-of-3 per query (same estimator as the full run's
    value_canon), same warm-up and calibration probe, but the registry
    never loads the other ~400 operators. Comparing this number with
    the full run's value_canon from the same host window decomposes
    canonical movement into (suite-size pressure) vs (host state).
    """
    import importlib

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bpaotu_spark.session import get_session
    from bpaotu_spark.registry import QUERIES

    for mod in CANON_MODULES:
        importlib.import_module(mod)
    canon = list(CANON)
    missing = [n for n in canon if n not in QUERIES]
    if missing:
        raise SystemExit(f"canon-only: keys not registered: {missing}")

    spark = get_session("bench")
    force(QUERIES[canon[0]](spark, sf_dir))
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    calib_sec = calibrate(spark)
    calib_mem_sec = calibrate_mem(spark)

    canon_med: dict[str, float] = {}
    canon_runs: dict[str, list[float]] = {}
    for name in canon:
        runs = []
        for _ in range(3):
            t0 = time.time()
            force(QUERIES[name](spark, sf_dir))
            runs.append(time.time() - t0)
        canon_runs[name] = [round(t, 3) for t in runs]
        canon_med[name] = round(sorted(runs)[1], 3)

    out = {
        "metric": "canon_only_total",
        "value": round(sum(canon_med.values()), 3),
        "unit": "sec",
        "calib_sec": calib_sec,
        "calib_mem_sec": calib_mem_sec,
        "n_canon": len(canon),
        "n_modules": len(CANON_MODULES),
        "n_registered": len(QUERIES),
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "detail": "BENCH_CANON_ONLY.json",
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_CANON_ONLY.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {**out, "queries": canon_med, "canon_runs": canon_runs},
            fh,
            indent=1,
        )
    print(json.dumps(out))
    return 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bpaotu_spark.session import get_session
    import __spark_entry__ as entrymod

    spark = get_session("bench")
    qs = entrymod.queries()
    names = bench_names(qs)

    # Warm the JVM/codegen once on the smallest query so query #1 doesn't
    # absorb the session startup cost.
    force(qs[names[0]](spark, sf_dir))
    # Warm the Python-worker pool too: the first Arrow/mapInPandas query
    # otherwise pays the one-time spawn of all worker processes (their
    # imports come off the slow host disk — measured up to ~16s landing
    # on whichever UDF query ran first).
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Build the persisted ANN index ONCE and report its cost as its
    # own metric (r10 VERDICT item 2: build-once/search-many): the
    # graph-search queries below then measure SEARCH time, which is
    # what a production deployment pays per query — the construction
    # cost is not hidden, it is THIS number.
    from bpaotu_spark.ann.core import _km_final_cached
    from bpaotu_spark.ann.index_store import connected_edges_cached
    from bpaotu_spark.ann.truthstore import build_truth_store

    t0 = time.time()
    force(connected_edges_cached(spark, sf_dir))
    # the exact ground-truth tables are part of the same build job
    # (r14 VERDICT item 3): the recall-eval queries below measure the
    # approximate leg + a truth READ, never a truth recompute
    build_truth_store(spark, sf_dir)
    # the k-means final assignment joins the same build job (r15): the
    # kmeans/curation queries below measure a store READ, never the
    # Lloyd rounds — construction cost is paid HERE, once
    force(_km_final_cached(spark, sf_dir))
    # the LSH kNN edge table joins the same build job (late r15): the
    # ten census queries below measure store READS, never the bucketed
    # self-join derivation — its cost is paid HERE, once
    from bpaotu_spark.ann.core import knn_graph_lsh

    force(knn_graph_lsh(spark, sf_dir))
    ann_index_build_sec = round(time.time() - t0, 3)

    # Same lifecycle for the comparison-page distance matrices (r12
    # VERDICT item 1): build the store artifacts ONCE and report the
    # cost as its own metric; the seven consumer queries below then
    # measure the warm READ path — what the comparison page pays per
    # statistic after the submit-time build.
    from bpaotu_spark.operators.diststore import build_dist_store

    t0 = time.time()
    build_dist_store(spark, sf_dir)
    dist_index_build_sec = round(time.time() - t0, 3)

    # Same lifecycle for the dedup signature substrate (r13 VERDICT
    # item 1): build the signature/pair/CC-label artifacts ONCE and
    # report the cost as its own metric; the dedup-family queries
    # below then measure the warm READ path — what the nightly-ingest
    # deployment pays per census after the build job.
    from bpaotu_spark.dedup.sigstore import build_dedup_store

    t0 = time.time()
    build_dedup_store(spark, sf_dir)
    dedup_index_build_sec = round(time.time() - t0, 3)

    # Machine-state probe FIRST (fixed pure-CPU job, median-of-3):
    # divides canonical deltas into (plan effect) x (host effect).
    calib_sec = calibrate(spark)
    calib_mem_sec = calibrate_mem(spark)

    # Two runs per query, BOTH reported: "queries" (the headline) is
    # best-of-2 — the host virtual disk intermittently stalls for tens
    # of seconds (documented in session.py — spark.local.dir already
    # points at /dev/shm, but source parquet reads still cross the
    # disk), and one stalled read otherwise lands on a random query as
    # a phantom 30s regression; min() of two runs measures the plan,
    # not the disk. "queries_cold" is the unfiltered FIRST run so
    # cross-round comparisons can separate plan changes from warm-JVM
    # methodology. Runs execute back-to-back per query so OS page
    # cache state is comparable across queries. CANONICAL queries get
    # a THIRD run and their round-over-round statistic (value_canon)
    # is the sum of per-query MEDIANS — r7 showed best-of-2 still
    # lets one good run mask a degraded host, and a median over three
    # back-to-back runs is the cheapest estimator that bounds both
    # tails (VERDICT r7 item 1).
    canon_set = set(CANON)
    per_query: dict[str, float] = {}
    per_query_cold: dict[str, float] = {}
    canon_med: dict[str, float] = {}
    canon_runs: dict[str, list[float]] = {}
    for name in names:
        t0 = time.time()
        force(qs[name](spark, sf_dir))
        cold = time.time() - t0
        t0 = time.time()
        force(qs[name](spark, sf_dir))
        second = time.time() - t0
        per_query_cold[name] = round(cold, 3)
        per_query[name] = round(min(cold, second), 3)
        if name in canon_set:
            t0 = time.time()
            force(qs[name](spark, sf_dir))
            third = time.time() - t0
            runs = sorted((cold, second, third))
            canon_runs[name] = [round(t, 3) for t in (cold, second, third)]
            canon_med[name] = round(runs[1], 3)

    # Scaling slope: the same plans once at a 10x-smaller scale factor.
    # t(sf0.1)/t(sf0.01) per query is the closest local proxy for "what
    # happens at 100x" — a slope well above the data ratio flags a plan
    # whose cost is not data-linear (global sort, unblocked pairs, ...).
    scale_queries: dict[str, float] = {}
    scale_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/root/testdata/sf0.01")
    if os.path.isdir(scale_dir):
        # symmetric index prebuild so the slope compares search vs
        # search, not search vs build+search
        force(connected_edges_cached(spark, scale_dir))
        build_truth_store(spark, scale_dir)
        force(_km_final_cached(spark, scale_dir))
        build_dist_store(spark, scale_dir)
        build_dedup_store(spark, scale_dir)
        # best-of-2 (r12 VERDICT item 6): a single cold run at the
        # scale SF let one disk stall / first-touch artifact invert a
        # slope (daily_acf_lags read 10.49 s at sf0.01 vs 3.74 s at
        # sf0.1 in BENCH_r12); min-of-2 measures the plan.
        for name in names:
            t0 = time.time()
            force(qs[name](spark, scale_dir))
            first = time.time() - t0
            t0 = time.time()
            force(qs[name](spark, scale_dir))
            second = time.time() - t0
            scale_queries[name] = round(min(first, second), 3)

    # The bucketed-lake demonstration (r14 VERDICT item 7): runs after
    # the per-query block so its table writes never disturb timings.
    bucketed_layout = bucketed_layout_report(spark, sf_dir)

    total = round(sum(per_query.values()), 3)
    # r16 (VERDICT r15 item 2): the store lifecycle moves derivation
    # work into the untimed build windows above; this total puts it
    # back so cross-round comparisons can never gain from a repoint —
    # headline_total + the three cold build windows, one number.
    headline_with_builds = round(
        total
        + ann_index_build_sec
        + dist_index_build_sec
        + dedup_index_build_sec,
        3,
    )
    canon = [n for n in CANON if n in per_query]
    # value_canon: per-query median-of-3 (the r8+ convention);
    # value_canon_min: best-of-2 as emitted in r6/r7, kept so the
    # BENCH_CANON.md trend stays comparable across the change.
    value_canon = round(sum(canon_med[n] for n in canon), 3)
    value_canon_min = round(sum(per_query[n] for n in canon), 3)
    sf = os.path.basename(sf_dir.rstrip("/"))

    # The driver captures only a ~2,000-char tail of stdout and failed
    # to parse round 4's ~7.9 kB line (BENCH_r04.json: parsed=null), so
    # the full per-query breakdown goes to a sidecar and stdout carries
    # ONE compact JSON line, hard-capped well under the capture window.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_total",
                "value": total,
                "headline_with_builds": headline_with_builds,
                "value_canon": value_canon,
                "value_canon_min": value_canon_min,
                "calib_sec": calib_sec,
                "calib_mem_sec": calib_mem_sec,
                "ann_index_build_sec": ann_index_build_sec,
                "dist_index_build_sec": dist_index_build_sec,
                "dedup_index_build_sec": dedup_index_build_sec,
                "n_canon": len(canon),
                "value_cold": round(sum(per_query_cold.values()), 3),
                "unit": "sec",
                "sf": sf,
                "queries": per_query,
                "queries_cold": per_query_cold,
                "canon_runs": canon_runs,
                "bucketed_layout": bucketed_layout,
                "scale_check": {
                    "sf": os.path.basename(scale_dir.rstrip("/")),
                    "queries": scale_queries,
                },
            },
            fh,
            indent=1,
        )

    headline = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "headline_with_builds": headline_with_builds,
        "value_canon": value_canon,
        "value_canon_min": value_canon_min,
        "calib_sec": calib_sec,
        "calib_mem_sec": calib_mem_sec,
        "ann_index_build_sec": ann_index_build_sec,
        "dist_index_build_sec": dist_index_build_sec,
        "dedup_index_build_sec": dedup_index_build_sec,
        "n_canon": len(canon),
        "value_cold": round(sum(per_query_cold.values()), 3),
        "n_queries": len(per_query),
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
        "queries": {},
    }
    # Fill "queries" slowest-first with as many entries as keep the
    # line under the budget — the heavy queries are the signal; the
    # full dict is in the sidecar.
    budget = 1800
    for name in sorted(per_query, key=per_query.get, reverse=True):
        headline["queries"][name] = per_query[name]
        if len(json.dumps(headline)) > budget:
            del headline["queries"][name]
            break
    line = json.dumps(headline)
    assert len(line) <= budget, f"headline line {len(line)} > {budget}"
    print(line)
    return 0


if __name__ == "__main__":
    if "--canon-only" in sys.argv[1:]:
        sys.exit(canon_only())
    sys.exit(main())
