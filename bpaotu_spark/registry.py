"""Query/oracle registry.

Every implemented operator registers a ``(spark, sf_dir) -> DataFrame``
callable plus (when SQL-expressible) the exact ANSI-SQL DuckDB oracle.
``__spark_entry__.py`` exposes these to the driver. Column names are a
contract: the Spark result and the oracle result must alias every
computed column identically (the driver hashes values after sorting
columns by name).
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation and its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            # a silent overwrite loses the earlier operator to import
            # order (the r13 mann_kendall_trend near-miss was caught by
            # an allowlist coincidence, not by the system)
            raise ValueError(
                f"duplicate operator registration: {name!r} is already "
                f"registered by {QUERIES[name].__module__}."
                f"{QUERIES[name].__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every submodule of the package so registrations run."""
    import bpaotu_spark

    for mod in pkgutil.walk_packages(bpaotu_spark.__path__, "bpaotu_spark."):
        importlib.import_module(mod.name)


_EVIDENCE_RE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_REPO_ROOT = Path(__file__).resolve().parent.parent


def last_green_rounds(evidence_dir: str | Path) -> dict[str, int]:
    """Each key's last driver-green round in ``evidence_dir``'s
    ``CORRECTNESS_r<N>.json`` files. A row is green when rows, schema
    and hash all match and it carries no error."""
    out: dict[str, int] = {}
    for path in Path(evidence_dir).glob("CORRECTNESS_r*.json"):
        m = _EVIDENCE_RE.fullmatch(path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for key, row in json.loads(path.read_text()).items():
            green = all(
                row.get(f) is True
                for f in ("rows_match", "schema_match", "hash_match")
            )
            if green and row.get("err") is None:
                out[key] = max(out.get(key, 0), rnd)
    return out


def ordered_queries(evidence_dir: str | Path = _REPO_ROOT) -> dict[str, QueryFn]:
    """QUERIES in the driver's correctness-sweep order.

    The driver checks a bounded prefix (~50 keys a round) of this
    order, so the keys whose last driver-green round is oldest lead;
    a key with no green row counts as round 0 and comes first. Ties
    keep registration order. Oracle-less (rows-only) keys come last so
    they never take a slot of the oracle-compare window. The evidence
    is read from ``evidence_dir`` (default: the repository root, where
    the driver's rounds are committed); with no evidence files this is
    registration order, rows-only keys last.
    """
    green = last_green_rounds(evidence_dir)
    order = sorted(
        QUERIES,
        key=lambda k: (0, green.get(k, 0)) if k in ORACLES else (1, 0),
    )
    return {k: QUERIES[k] for k in order}
