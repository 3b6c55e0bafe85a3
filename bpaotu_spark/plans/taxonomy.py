"""TaxonomyFilter — hierarchical rank drill-down.

The reference fixes taxonomy ranks 1..k (each ``is`` / ``isnot``) and
asks for (a) the OTUs matching the prefix and (b) the value options at
rank k+1 (public path ``bpaotu/otu/query.py``, ``TaxonomyFilter`` /
the taxonomy-options endpoint). The hierarchy is positional, not
schema-bound, so the same operator serves kingdom→species in the
reference and p_type→p_brand→p_name here.

Like :mod:`bpaotu_spark.plans.filters`, one spec emits both the Spark
predicate and the oracle SQL text.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Literal

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from bpaotu_spark.plans.filters import _sql_lit


@dataclass(frozen=True)
class RankFix:
    """Fix one rank: taxonomy[rank] == value (or != when negated)."""

    rank: int  # 0-based index into the hierarchy
    value: str
    negated: bool = False


@dataclass(frozen=True)
class TaxonomyFilter:
    """Hierarchy column names + fixed-rank prefix."""

    ranks: tuple[str, ...]  # e.g. ("p_type", "p_brand", "p_name")
    fixed: tuple[RankFix, ...] = ()

    def column(self) -> Column:
        out = F.lit(True)
        for fix in self.fixed:
            col = F.col(self.ranks[fix.rank])
            out = out & ((col != fix.value) if fix.negated else (col == fix.value))
        return out

    def sql(self) -> str:
        parts = []
        for fix in self.fixed:
            op = "!=" if fix.negated else "="
            parts.append(f"{self.ranks[fix.rank]} {op} {_sql_lit(fix.value)}")
        return " AND ".join(parts) if parts else "TRUE"

    def next_rank(self) -> str:
        """The rank column whose options a drill-down should list."""
        depth = max((f.rank for f in self.fixed if not f.negated), default=-1) + 1
        if depth >= len(self.ranks):
            raise ValueError("already at the deepest rank")
        return self.ranks[depth]


def drilldown_options(taxa: DataFrame, tf: TaxonomyFilter) -> DataFrame:
    """Value options at the next rank + how many taxa each covers."""
    nxt = tf.next_rank()
    return (
        taxa.filter(tf.column())
        .groupBy(F.col(nxt).alias("option"))
        .agg(F.count(F.lit(1)).alias("n_taxa"))
    )
