"""Seeded request lists for each workload, and how to build and check them.

A workload's timed phase is a sequence of rounds. Every round holds each
request kind of the workload once, in a seeded order, and the seeded
``plans.*`` kinds draw fresh parameters for every request. Runs with
different seeds therefore time the same kinds; only the order and the
filter values change.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

# Each workload is a set of request kinds, each run once per round: no
# measured distribution of portal clicks exists, so no kind is weighted
# above another. The untimed first round runs every kind once and checks
# its output. The sets are sized so that 48 runs of both workloads fit
# in an hour on a 4-core host even when host CPU steal slows every run
# by a third: a run pays 7-13 s of session start, 6-20 s more for its
# first request and 1-9 s for the first call of every other kind, so
# each workload keeps a few kinds that each load a distinct layer.
MIX = {
    # Page clicks on small inputs: fixed cost (catalog, Python
    # construction, Catalyst, job scheduling) dominates.
    "portal": (
        "contextual_filter_and",  # sample page, three broadcast dims
        "plans.context_page",  # seeded ContextualFilter over sample_context
        "plans.selection_abundance",  # seeded selection through abundance_selected
        "plans.drilldown",  # seeded TaxonomyFilter through drilldown_options
        "io.geojson",  # map_binning_2d, streamed through the driver
    ),
    # Comparison-page statistics and similarity search against a
    # prebuilt store: construction with its eager barrier jobs, Spark
    # execution and graph-walk driver compute. Each kind pays 4-20 s on
    # its first call in a process, so the workload keeps two.
    "analysis": (
        "permanova_permutation_p",  # permutation barriers in construction
        "ann_beam_topk_quality",  # ann.walk beam search over the stored graph
    ),
    # First consumers of each freshly built store (store-miss path).
    "store_rebuild": (
        "ann_hnsw_layered_search",
        "ann_beam_topk_quality",
        "ann_ivf_topk",
        "kmeans_embeddings",
        "anosim_permutation_p",
        "dedup_minhash_lsh",
    ),
}

CONTEXT_COLS = ("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "n_name", "r_name")
CONTEXT_SQL = """context AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey, n_name, r_name
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)"""
TAXONOMY_RANKS = ("p_type", "p_brand", "p_name")


@dataclass(frozen=True)
class Request:
    rid: str
    kind: str
    params: dict = field(default_factory=dict, compare=False)

    def describe(self) -> str:
        """One line naming the kind and, for ``plans.*``, its filter SQL."""
        if "cf" in self.params:
            return f"{self.kind} WHERE {self.params['cf'].sql()}"
        if "tf" in self.params:
            return f"{self.kind} WHERE {self.params['tf'].sql()}"
        return self.kind


@dataclass(frozen=True)
class Pools:
    """Filter values drawn from the data during set-up."""

    names: tuple[str, ...]
    segments: tuple[str, ...]
    nations: tuple[str, ...]
    regions: tuple[str, ...]
    acctbal: tuple[float, ...]
    taxonomy: dict  # p_type -> sorted tuple of its brands

    @staticmethod
    def from_tables(customer, nation, region, part) -> "Pools":
        """Build from pyarrow tables of the four source tables."""
        types = part.column("p_type").to_pylist()
        brands = part.column("p_brand").to_pylist()
        taxonomy: dict[str, set] = {}
        for t, b in zip(types, brands):
            taxonomy.setdefault(t, set()).add(b)
        return Pools(
            names=tuple(sorted(customer.column("c_name").to_pylist())),
            segments=tuple(sorted(set(customer.column("c_mktsegment").to_pylist()))),
            nations=tuple(sorted(nation.column("n_name").to_pylist())),
            regions=tuple(sorted(region.column("r_name").to_pylist())),
            acctbal=tuple(sorted(customer.column("c_acctbal").to_pylist())),
            taxonomy={t: tuple(sorted(bs)) for t, bs in sorted(taxonomy.items())},
        )


def _pred(rng: random.Random, pools: Pools):
    from bpaotu_spark.plans import Pred

    # Templates span one sample (a name) to every sample (notnull).
    choice = rng.randrange(8)
    if choice == 0:
        return Pred("c_name", "eq", rng.choice(pools.names))
    if choice == 1:
        return Pred("c_name", "contains", rng.choice(pools.names)[-3:])
    if choice == 2:
        return Pred("c_mktsegment", "in", tuple(rng.sample(pools.segments, rng.randint(1, 3))))
    if choice == 3:
        return Pred("n_name", rng.choice(("eq", "ne")), rng.choice(pools.nations))
    if choice == 4:
        return Pred("r_name", "eq", rng.choice(pools.regions))
    if choice == 5:
        lo, hi = sorted(rng.sample(pools.acctbal, 2))
        return Pred("c_acctbal", "between", (lo, hi))
    if choice == 6:
        return Pred("c_acctbal", rng.choice(("lt", "gt")), rng.choice(pools.acctbal))
    return Pred("c_acctbal", "notnull")


def _contextual_filter(rng: random.Random, pools: Pools):
    from bpaotu_spark.plans import ContextualFilter

    preds = [_pred(rng, pools) for _ in range(rng.randint(1, 3))]
    return ContextualFilter.of(preds, rng.choice(("and", "or")))


def _taxonomy_filter(rng: random.Random, pools: Pools):
    from bpaotu_spark.plans import RankFix, TaxonomyFilter

    depth = rng.randrange(3)
    fixed = []
    if depth >= 1:
        ptype = rng.choice(sorted(pools.taxonomy))
        fixed.append(RankFix(0, ptype))
        if depth == 2:
            fixed.append(RankFix(1, rng.choice(pools.taxonomy[ptype]), negated=rng.random() < 0.5))
    return TaxonomyFilter(TAXONOMY_RANKS, tuple(fixed))


def round_requests(workload: str, seed: int, rnd: int, pools: Pools | None, shuffled: bool = True) -> list[Request]:
    """Round ``rnd`` of ``workload``: every kind once, in seeded order
    (in ``MIX`` order when not ``shuffled``)."""
    rng = random.Random(f"{workload}/{seed}/{rnd}")
    kinds = list(MIX[workload])
    if shuffled:
        rng.shuffle(kinds)
    out = []
    for i, kind in enumerate(kinds):
        params = {}
        if kind in ("plans.context_page", "plans.selection_abundance"):
            params["cf"] = _contextual_filter(rng, pools)
        elif kind == "plans.drilldown":
            params["tf"] = _taxonomy_filter(rng, pools)
        out.append(Request(f"r{rnd}.{i}", kind, params))
    return out


def build(spark, sf_dir: str, req: Request):
    """The DataFrame a request executes (the construction phase)."""
    import pyspark.sql.functions as F

    from bpaotu_spark import registry
    from bpaotu_spark.catalog import load_table
    from bpaotu_spark.operators.bpaotu import abundance_selected, sample_context
    from bpaotu_spark.plans import drilldown_options

    if req.kind == "plans.context_page":
        return sample_context(spark, sf_dir).filter(req.params["cf"].column()).select(*CONTEXT_COLS)
    if req.kind == "plans.selection_abundance":
        sel = (
            sample_context(spark, sf_dir)
            .filter(req.params["cf"].column())
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
    if req.kind == "plans.drilldown":
        return drilldown_options(load_table(spark, sf_dir, "part"), req.params["tf"])
    key = EXPORT_SOURCE.get(req.kind, req.kind)
    return registry.QUERIES[key](spark, sf_dir)


def oracle_sql(req: Request) -> str:
    """DuckDB SQL whose result the request's output must equal."""
    from bpaotu_spark import registry

    if req.kind == "plans.context_page":
        return (
            f"WITH {CONTEXT_SQL}\nSELECT {', '.join(CONTEXT_COLS)} FROM context\n"
            f"WHERE {req.params['cf'].sql()}"
        )
    if req.kind == "plans.selection_abundance":
        return f"""WITH {CONTEXT_SQL},
sel AS (SELECT c_custkey AS sample_id FROM context WHERE {req.params['cf'].sql()})
SELECT l_partkey AS otu_id,
       CAST(round(sum(l_quantity), 4) AS DOUBLE) AS total_abundance,
       count(DISTINCT o_custkey) AS n_samples
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN sel ON o_custkey = sample_id
GROUP BY l_partkey"""
    if req.kind == "plans.drilldown":
        tf = req.params["tf"]
        nxt = tf.next_rank()
        return (
            f"SELECT {nxt} AS option, count(*) AS n_taxa FROM part "
            f"WHERE {tf.sql()} GROUP BY {nxt}"
        )
    return registry.ORACLES[EXPORT_SOURCE.get(req.kind, req.kind)]


# The registered operator whose DataFrame each export writes.
EXPORT_SOURCE = {"io.geojson": "map_binning_2d"}
