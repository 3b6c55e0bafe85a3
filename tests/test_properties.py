"""Property-based tests (hypothesis): the dual-emission contracts.

The engine's core drift-proofing claim is that one spec emits BOTH the
Spark predicate and the oracle SQL. These properties hammer that claim
with generated specs and data: for any ContextualFilter,
TaxonomyFilter or TraitFilter, Spark and DuckDB must select exactly
the same rows.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from bpaotu_spark.plans.filters import ContextualFilter, Pred
from bpaotu_spark.plans.query_params import TraitFilter
from bpaotu_spark.plans.taxonomy import RankFix, TaxonomyFilter

# Bounded value domains keep generated predicates type-correct.
_num = st.one_of(
    st.integers(-100, 100).map(float), st.floats(-100, 100, allow_nan=False)
)
_txt = st.text(alphabet="abcxyz '%_", min_size=0, max_size=6)


@st.composite
def preds(draw):
    field = draw(st.sampled_from(["num_col", "str_col"]))
    if field == "num_col":
        op = draw(st.sampled_from(["eq", "ne", "lt", "gt", "between", "in", "isnull", "notnull"]))
        if op == "between":
            lo, hi = sorted([draw(_num), draw(_num)])
            return Pred(field, op, (lo, hi))
        if op == "in":
            return Pred(field, op, tuple(draw(st.lists(_num, min_size=1, max_size=4))))
        if op in ("isnull", "notnull"):
            return Pred(field, op)
        return Pred(field, op, draw(_num))
    op = draw(st.sampled_from(["eq", "ne", "contains", "in", "isnull", "notnull"]))
    if op == "in":
        return Pred(field, op, tuple(draw(st.lists(_txt, min_size=1, max_size=4))))
    if op in ("isnull", "notnull"):
        return Pred(field, op)
    return Pred(field, op, draw(_txt))


@st.composite
def filters(draw):
    ps = draw(st.lists(preds(), min_size=1, max_size=4))
    mode = draw(st.sampled_from(["and", "or"]))
    return ContextualFilter.of(ps, mode)


# The other dual-emission specs over the same string column: a
# one-rank taxonomy fix and a trait containment.
_taxonomy = st.builds(
    lambda v, neg: TaxonomyFilter(("str_col",), (RankFix(0, v, neg),)),
    _txt,
    st.booleans(),
)
_trait = st.builds(lambda v: TraitFilter("str_col", v), _txt)


_ROWS = [
    (0, 5.0, "abc"),
    (1, -3.5, "a%b"),
    (2, 0.0, ""),
    (3, None, "x'y"),
    (4, 42.0, None),
    (5, -100.0, "xyz xyz"),
    (6, 7.25, "a_c"),
]


@pytest.fixture(scope="module")
def spark_df(spark):
    return spark.createDataFrame(
        _ROWS, "id int, num_col double, str_col string"
    ).cache()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.register(
        "t", pd.DataFrame(_ROWS, columns=["id", "num_col", "str_col"])
    )
    return con


@given(cf=st.one_of(filters(), _taxonomy, _trait))
@example(cf=TaxonomyFilter(("str_col",), (RankFix(0, "x'y"),)))
@example(cf=TraitFilter("str_col", "x'y"))
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
def test_filter_spark_matches_duckdb(cf, spark_df, duck):
    spark_ids = {r.id for r in spark_df.filter(cf.column()).select("id").collect()}
    duck_ids = {
        r[0] for r in duck.execute(f"SELECT id FROM t WHERE {cf.sql()}").fetchall()
    }
    assert spark_ids == duck_ids, f"divergence for {cf}"


@given(b=st.integers(1, 50), ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=20))
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_hash_bucket_spark_matches_sql(b, ids, spark, duck):
    """hash_bucket (split/sample engine) must agree between engines."""
    import pyspark.sql.functions as F

    from bpaotu_spark.operators.pipeline import hash_bucket, hash_bucket_sql

    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.b
        for r in sdf.select("doc_id", hash_bucket(F.col("doc_id"), b).alias("b")).collect()
    }
    duck.register("ids_t", pd.DataFrame({"doc_id": ids}))
    want = {
        r[0]: r[1]
        for r in duck.execute(
            f"SELECT doc_id, {hash_bucket_sql('doc_id', b)} FROM ids_t"
        ).fetchall()
    }
    assert got == want


def test_tokenize_properties(spark):
    """Tokenize: never yields empty tokens, is idempotent on its output."""
    from bpaotu_spark.functions.textops import tokenize
    import pyspark.sql.functions as F

    texts = ["", "  ", "a  b", "A-B_c", "x!!y", "1 2  3", "ümlaut ok", "a" * 500]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", tokenize(F.col("text")).alias("toks")).collect()
    for r in rows:
        toks = [t for t in r.toks if t != ""]
        joined = " ".join(toks)
        redo = [
            t
            for t in spark.createDataFrame([(joined,)], "text string")
            .select(tokenize(F.col("text")).alias("x"))
            .collect()[0]
            .x
            if t != ""
        ]
        assert redo == toks


# ---------------------------------------------------------------------------
# Integer-exact aHash: the promotion contract of the phash oracles.
# For any document bytes and any BMP geometry the encoder can emit, the
# integer threshold in image_ahash must agree with an independent
# exact-rational (fractions.Fraction) implementation of "block density
# strictly above the mean of the 64 block densities".
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    doc_id=st.integers(0, 10_000).map(lambda k: 3 * k),  # image assets
    text=st.text(alphabet="abcdef spark", min_size=0, max_size=40),
)
def test_image_ahash_matches_exact_rational_reference(doc_id, text):
    from fractions import Fraction

    import numpy as np

    from bpaotu_spark.multimodal.core import encode_bmp, image_ahash

    payload = encode_bmp(doc_id, text.encode("utf-8"))
    got = image_ahash(payload)

    # independent reference: decode the same payload, threshold with
    # exact rationals (no common-denominator trick, no floats)
    import struct as _s

    off = _s.unpack_from("<I", payload, 10)[0]
    w = _s.unpack_from("<i", payload, 18)[0]
    h = _s.unpack_from("<i", payload, 22)[0]
    stride = ((w + 31) // 32) * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=off
    ).reshape(h, stride)
    bits = np.unpackbits(rows, axis=1)[:, :w][::-1]
    ys = [(i * h) // 8 for i in range(9)]
    xs = [(j * w) // 8 for j in range(9)]
    dens = [
        [
            Fraction(
                int(bits[ys[i]: ys[i + 1], xs[j]: xs[j + 1]].sum()),
                (ys[i + 1] - ys[i]) * (xs[j + 1] - xs[j]),
            )
            for j in range(8)
        ]
        for i in range(8)
    ]
    mean = sum(sum(r) for r in dens) / 64
    v = 0
    for i in range(8):
        for j in range(8):
            v = (v << 1) | int(dens[i][j] > mean)
    assert got == f"{v:016x}"
