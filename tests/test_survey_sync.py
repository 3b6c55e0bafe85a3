"""SURVEY.md §2 must track the registry exactly — a ✅ without an
oracle, or a row without an implementation, is a false claim."""

import json
import re
import sys

import __spark_entry__ as e

sys.path.insert(0, "tools")


def _row(hash_match=True, err=None):
    """One CORRECTNESS_r<N>.json row; green with the defaults."""
    return {"rows_match": True, "schema_match": True,
            "hash_match": hash_match, "spark_rows": 1, "oracle_rows": 1,
            "err": err}


def test_ordered_queries_follow_evidence(tmp_path):
    """The driver's sweep order is derived from the CORRECTNESS_r<N>
    evidence: never-green keys first, then oldest last-green round
    first, ties in registration order, rows-only keys last."""
    from bpaotu_spark import registry

    backed = [k for k in registry.QUERIES if k in registry.ORACLES]
    rows_only = [k for k in registry.QUERIES if k not in registry.ORACLES]
    assert list(registry.ordered_queries(tmp_path)) == backed + rows_only

    a, b, c, failed, errored, absent = backed[:6]
    evidence = {
        1: {a: _row(), b: _row(), c: _row()},
        2: {b: _row(), failed: _row(hash_match=False),
            errored: _row(err="boom")},
        3: {c: _row()},
    }
    for rnd, rows in evidence.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    order = list(registry.ordered_queries(tmp_path))

    assert sorted(order) == sorted(registry.QUERIES)
    assert order[len(backed):] == rows_only
    # last-green rounds 1, 2, 3 close the oracle-backed block
    assert order[len(backed) - 3: len(backed)] == [a, b, c]
    # no row, or only a failed row, counts as round 0
    assert order[:3] == [failed, errored, absent]
    assert order == list(registry.ordered_queries(tmp_path))


def test_bench_runs_canon_then_every_key_once():
    """bench.py times the frozen canonical subset first, then every
    other registered key exactly once."""
    import bench

    names = bench.bench_names(e.queries())
    assert len(bench.CANON) == 47
    assert names[: len(bench.CANON)] == list(bench.CANON)
    assert len(names) == len(set(names))
    assert set(names) == set(e.queries())


def test_survey_marks_match_registry():
    qs = set(e.queries())
    oracles = set(e.oracle_sql())
    survey = open("SURVEY.md").read()
    rows = re.findall(
        r"^\| `([a-z_0-9]+)` \| .* \| (✅|rows-only[^|]*) \|$", survey, re.M
    )
    marked = dict(rows)
    assert qs - set(marked) == set(), "operators missing from SURVEY §2"
    assert set(marked) - qs == set(), "SURVEY §2 rows with no implementation"
    for key, mark in marked.items():
        if mark == "✅":
            assert key in oracles, f"{key} marked ✅ but has no oracle"
        else:
            assert key not in oracles, f"{key} marked rows-only but has an oracle"


def test_check_harness_rejects_nonscalar_outputs():
    """Driver-contract guard (r6 lesson, multimodal_features): the
    driver canonicalizer crashes on array/map/struct columns, so the
    local harness must flag them even when values would hash-match."""
    import check

    bad = check.nonscalar_outputs(
        [("id", "bigint"), ("feature", "array<float>")]
    )
    assert bad == [("feature", "array<float>")]
    assert check.nonscalar_outputs(
        [("m", "map<string,int>"), ("s", "struct<a:int>")]
    ) == [("m", "map<string,int>"), ("s", "struct<a:int>")]
    assert check.nonscalar_outputs(
        [("id", "bigint"), ("v", "double"), ("t", "string")]
    ) == []
