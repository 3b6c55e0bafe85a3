"""OTUQueryParams — the reference's central query object.

Every results page in the reference is driven by one
``OTUQueryParams`` (public path ``bpaotu/otu/query.py``): a taxonomy
filter + a contextual filter + an amplicon/trait filter, all applied
together. This is the combining object over
:class:`~bpaotu_spark.plans.taxonomy.TaxonomyFilter` and
:class:`~bpaotu_spark.plans.filters.ContextualFilter`, plus the
trait-contains predicate (the reference stores traits as a delimited
list column and filters with substring containment).

Same dual-emission contract as the component builders: one spec emits
both the Spark predicates and the oracle SQL fragments, so the two
engines cannot drift.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column

from bpaotu_spark.plans.filters import ContextualFilter, _sql_lit
from bpaotu_spark.plans.taxonomy import TaxonomyFilter


@dataclass(frozen=True)
class TraitFilter:
    """Substring containment on a delimited trait-list column."""

    field: str
    trait: str

    def column(self) -> Column:
        return F.col(self.field).contains(self.trait)

    def sql(self) -> str:
        return f"contains({self.field}, {_sql_lit(self.trait)})"


@dataclass(frozen=True)
class OTUQueryParams:
    """taxonomy ∧ trait (taxon side) + contextual (sample side)."""

    taxonomy: TaxonomyFilter
    contextual: ContextualFilter
    trait: TraitFilter | None = None

    def taxon_column(self) -> Column:
        out = self.taxonomy.column()
        if self.trait is not None:
            out = out & self.trait.column()
        return out

    def taxon_sql(self) -> str:
        parts = [self.taxonomy.sql()]
        if self.trait is not None:
            parts.append(self.trait.sql())
        return " AND ".join(f"({p})" for p in parts)

    def sample_column(self) -> Column:
        return self.contextual.column()

    def sample_sql(self) -> str:
        return self.contextual.sql()
