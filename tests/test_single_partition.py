"""``catalog.maybe_single_partition``: a scan of one small local file is
planned as one partition, so the portal's map, selection-abundance and
drill-down pages run with no shuffle exchange; every other input keeps
its plan, and the pair formers, which self-join the selected abundance,
keep their exchanges. The pages' rows equal their DuckDB oracles
either way. Also the catalog's failure counter."""

from __future__ import annotations

import types

import duckdb
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from bpaotu_spark import catalog
from bpaotu_spark.catalog import TABLE_NAMES, load_table, maybe_single_partition
from bpaotu_spark.operators.bpaotu import (
    _CONTEXT_SQL,
    TAXONOMY_RANKS,
    abundance_selected,
    sample_context,
)
from bpaotu_spark.plans import (
    ContextualFilter,
    Pred,
    RankFix,
    TaxonomyFilter,
    drilldown_options,
)
from bpaotu_spark.registry import ORACLES, QUERIES, load_all
from tests.test_catalog import _jobs_in_group
from tests.test_survival import _table_hash

load_all()

MIN_PART = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
_CF = ContextualFilter.of([Pred("c_mktsegment", "in", ("BUILDING", "MACHINERY"))])
_TF = TaxonomyFilter(TAXONOMY_RANKS, (RankFix(0, "PROMO"),))


def _selection_abundance(spark, sf_dir):
    sel = (
        sample_context(spark, sf_dir)
        .filter(_CF.column())
        .select(F.col("c_custkey").alias("sample_id"))
    )
    return (
        abundance_selected(spark, sf_dir, sel)
        .groupBy("otu_id")
        .agg(
            F.round(F.sum("cnt"), 4).cast("double").alias("total_abundance"),
            F.countDistinct("sample_id").alias("n_samples"),
        )
    )


_SELECTION_SQL = f"""WITH {_CONTEXT_SQL},
sel AS (SELECT c_custkey AS sample_id FROM context WHERE {_CF.sql()})
SELECT l_partkey AS otu_id,
       CAST(round(sum(l_quantity), 4) AS DOUBLE) AS total_abundance,
       count(DISTINCT o_custkey) AS n_samples
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN sel ON o_custkey = sample_id
GROUP BY l_partkey"""

_DRILL_SQL = (
    f"SELECT p_brand AS option, count(*) AS n_taxa FROM part "
    f"WHERE {_TF.sql()} GROUP BY p_brand"
)

# page -> (DataFrame builder, oracle SQL)
PAGES = {
    "selection_abundance": (_selection_abundance, _SELECTION_SQL),
    "drilldown": (
        lambda spark, sf_dir: drilldown_options(load_table(spark, sf_dir, "part"), _TF),
        _DRILL_SQL,
    ),
    "map_binning_2d": (QUERIES["map_binning_2d"], ORACLES["map_binning_2d"]),
}


def _oracle(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _assert_rows_equal(df, sf_dir: str, sql: str) -> None:
    got = [tuple(r) for r in df.collect()]
    cols, want = _oracle(sf_dir, sql)
    assert sorted(df.columns) == sorted(cols)
    assert len(got) == len(want)
    table_hash = _table_hash()
    assert table_hash(got, df.columns) == table_hash(want, cols)


def _shuffles(df) -> int:
    """Shuffle exchanges in the executed plan (AQE's final plan once
    ``df`` has run); broadcast exchanges do not count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.replace("BroadcastExchange", "").count("Exchange")


@pytest.mark.parametrize("page", sorted(PAGES))
def test_page_runs_with_no_shuffle(spark, sf_dir, page):
    build, sql = PAGES[page]
    df = build(spark, sf_dir)
    _assert_rows_equal(df, sf_dir, sql)
    assert "Coalesce" in df._jdf.queryExecution().executedPlan().toString()
    assert _shuffles(df) == 0


@pytest.mark.parametrize("page", sorted(PAGES))
def test_min_partition_size_below_the_file_keeps_the_exchange(spark, sf_dir, page):
    build, sql = PAGES[page]
    spark.conf.set(MIN_PART, "1k")  # every sf0.001 input is larger
    try:
        part = load_table(spark, sf_dir, "part")
        assert maybe_single_partition(part) is part
        df = build(spark, sf_dir)
        _assert_rows_equal(df, sf_dir, sql)
        assert _shuffles(df) > 0
    finally:
        spark.conf.unset(MIN_PART)


def test_two_file_table_keeps_the_exchange(spark, sf_dir, tmp_path):
    part = pq.read_table(f"{sf_dir}/part.parquet")
    half = part.num_rows // 2
    (tmp_path / "part.parquet").mkdir()
    pq.write_table(part.slice(0, half), tmp_path / "part.parquet" / "a.parquet")
    pq.write_table(part.slice(half), tmp_path / "part.parquet" / "b.parquet")
    taxa = load_table(spark, str(tmp_path), "part")
    assert len(taxa.inputFiles()) == 2
    assert maybe_single_partition(taxa) is taxa
    df = drilldown_options(taxa, _TF)
    _assert_rows_equal(df, sf_dir, _DRILL_SQL)
    assert _shuffles(df) > 0


def test_two_leaves_keep_the_exchange(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    taxa = part.filter(F.col("p_partkey") % 2 == 0).unionByName(
        load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 1)
    )
    assert maybe_single_partition(taxa) is taxa
    df = drilldown_options(taxa, _TF)
    _assert_rows_equal(df, sf_dir, _DRILL_SQL)
    assert _shuffles(df) > 0


def test_remote_path_keeps_the_exchange(spark, sf_dir, monkeypatch):
    part = load_table(spark, sf_dir, "part")
    monkeypatch.setattr(
        type(part), "inputFiles", lambda self: ["hdfs://nn:8020/lake/part.parquet"]
    )
    assert maybe_single_partition(part) is part
    df = drilldown_options(part, _TF)
    _assert_rows_equal(df, sf_dir, _DRILL_SQL)
    assert _shuffles(df) > 0


@pytest.mark.parametrize("key", ["beta_diversity_sorensen", "mantel_test_gradient"])
def test_pair_formers_keep_their_exchanges(spark, sf_dir, key):
    """A pair former self-joins the selected abundance: it passes
    ``self_join=True``, so its branches share the fact scan through a
    reused exchange instead of each scanning a ``Coalesce(1)``."""
    df = QUERIES[key](spark, sf_dir)
    _assert_rows_equal(df, sf_dir, ORACLES[key])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan
    assert "ReusedExchange" in plan


def test_selection_abundance_runs_at_most_two_jobs(spark, sf_dir):
    df = _selection_abundance(spark, sf_dir)  # built outside the group
    rows, jobs = _jobs_in_group(spark, "test_single_partition.jobs", df.collect)
    assert rows
    assert len(jobs) <= 2, jobs


class _NoPlan:
    """A frame whose plan cannot be read (as on Spark Connect)."""

    def __init__(self, spark):
        self.sparkSession = spark

    @property
    def _jdf(self):
        raise RuntimeError("no JVM plan")


def test_failing_estimate_counts_once(spark):
    df = _NoPlan(spark)
    before = catalog.FAILURES.copy()
    with pytest.warns(RuntimeWarning):
        assert catalog.maybe_broadcast(df) is df
    assert catalog.FAILURES - before == {"broadcast_estimate": 1}


def test_failing_plan_read_counts_once(spark):
    df = _NoPlan(spark)
    before = catalog.FAILURES.copy()
    assert maybe_single_partition(df) is df
    assert catalog.FAILURES - before == {"single_partition": 1}


def test_unreadable_conf_counts_and_falls_back():
    session = types.SimpleNamespace(
        conf=types.SimpleNamespace(get=lambda key: "not a size")
    )  # no JVM to parse the byte string with
    before = catalog.FAILURES.copy()
    assert catalog._conf_bytes(session, MIN_PART, 123) == 123
    assert catalog.FAILURES - before == {"conf": 1}


def test_min_partition_size_default_is_one_mib(spark):
    assert catalog._conf_bytes(spark, MIN_PART, 0) == 1 << 20  # "1048576b"


@pytest.mark.parametrize("raw, want", [("-1", -1), ("64m", 64 << 20)])
def test_conf_bytes_reads_integer_and_byte_strings(spark, raw, want):
    session = types.SimpleNamespace(
        conf=types.SimpleNamespace(get=lambda key: raw), _jvm=spark._jvm
    )
    assert catalog._conf_bytes(session, MIN_PART, 7) == want
