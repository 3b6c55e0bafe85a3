"""Deterministic permutation p-values for the distance-based group
tests (ANOSIM / PERMANOVA).

Reference parity: the reference's comparison page reports permutation
significance next to the test statistic (public
``bpaotu/otu/views.py`` comparison endpoints backed by
scikit-bio-style anosim/permanova, which default to 999 random
permutations). SURVEY had documented the omission as "a resampling
harness ≠ a query"; ``order_value_poisson_bootstrap`` (r10) proved
the md5-deterministic-resampling idiom fits the oracle contract, so
the permutation null lands here as a QUERY:

- **Permutation b** (b = 1..32) re-assigns the observed group-label
  MULTISET to samples by rank-matching: samples ranked by
  ``md5(sample_id || ':' || b)`` receive the labels ranked by
  ``(grp, sample_id)`` — group sizes are preserved exactly, every
  draw is engine-identical, and b = 0 is the identity (the observed
  assignment).
- The **distance matrix is permutation-invariant**, so pair distances
  (and, for ANOSIM, their tie-averaged ranks) are computed ONCE; each
  permutation only re-labels the pairs (one 33-bit label mask per
  sample, joined to both pair ends) and re-aggregates — the exact
  textbook justification for permutation tests on distance matrices
  (Anderson 2001 §"permutation of raw data").
- **p_milli** = 1000·(1 + #{b ≥ 1 : stat_b ≥ stat_obs}) / (B + 1) —
  the add-one Monte-Carlo estimator (Phipson & Smyth 2010), in exact
  integer milli units.

Sign-safety: permuted statistics can be negative, and DuckDB ``//``
floors while Spark ``div`` truncates toward zero — so no negative
quantity is ever divided. ANOSIM compares the rank-mean DIFFERENCE
(each mean is a positive-sum division; the subtraction happens
after), and PERMANOVA compares pseudo-F via 128-bit
cross-multiplication, never forming the ratio.

Scale shape: both inputs are published store artifacts (diststore),
read through :func:`bpaotu_spark.ann.walk.read_stored` — the access
path the graph walks use. The study selection ``anosim_sel`` is one
``pyarrow.dataset`` scan. The pair matrix ``bray_pairs_anosim`` is
reduced batch by batch by ONE kernel (:func:`_pair_sums`), which runs
in the driver over the published files, with no Spark job; only when
the store has no local files, or they are gone, does the same kernel
run as a ``mapInArrow`` pass over the served frame. The 33-bit label
masks travel in its closure, one integer per selected sample. Per
Arrow batch, numpy computes each of the 33 per-b conditional sums
(and counts) in int64: PERMANOVA sums d² with ``d_ppm`` in [0, 10⁶],
so a batch sum stays below 2⁶³ while a batch holds fewer than 9.2M
rows; the kernel checks both bounds (ANOSIM's rank sums likewise, from
the batch's largest rank) and raises :class:`PairSumBound` instead of
wrapping. ANOSIM's tie-averaged ranks come from a ``d_ppm`` histogram
read over the same input (the oracle's ``dcnt``/``dcum``):
avg_rank_milli = cum_before·1000 + (cnt + 1)·500 is the kernel's value
map. Batches accumulate in Python ints and the kernel emits one (slot,
rows, sum) row per slot that saw a row (per task on the Spark path),
so a missing slot is the oracle's NULL. The integer finish (per-b
statistic, n_ge_obs, p_milli) runs in the driver over those rows and
the result leaves as a one-row literal frame.

Driver-side bound: one batch of at most ``_BATCH_ROWS`` pairs at a
time with its (slots × batch) matrix; the selection and its masks, one
(sample_id, grp) row and one integer per selected sample; and ANOSIM's
histogram, at most 10⁶ + 1 bins because every ``d_ppm`` is checked to
lie in [0, 10⁶]. B is a constant.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bpaotu_spark.ann import walk
from bpaotu_spark.catalog import load_table
from bpaotu_spark.operators.bpaotu import ABUNDANCE_CTE, abundance_selected
from bpaotu_spark.operators.diststore import (
    _DIST_TABLES,
    anosim_pairs_cached,
    anosim_sel_cached,
)
from bpaotu_spark.operators.ecology import _ANOSIM_SEL
from bpaotu_spark.registry import register
from bpaotu_spark.session import local_frame

_B_PERM = 32

# shared SQL: bounded selection -> per-pair Bray-Curtis d_ppm
_PAIRS_CTES = f"""
sel AS (
  SELECT c_custkey AS sample_id, c_mktsegment AS grp
  FROM customer WHERE {_ANOSIM_SEL}
),
a AS (
  SELECT ab.sample_id, grp, otu_id, CAST(sum(cnt) AS BIGINT) AS c
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
  GROUP BY ab.sample_id, grp, otu_id
),
tot AS (
  SELECT sample_id, grp, CAST(sum(c) AS BIGINT) AS tot
  FROM a GROUP BY sample_id, grp
),
shared AS (
  SELECT x.sample_id AS sample_a, y.sample_id AS sample_b,
         CAST(sum(least(x.c, y.c)) AS BIGINT) AS sum_min
  FROM a x JOIN a y ON x.otu_id = y.otu_id AND x.sample_id < y.sample_id
  GROUP BY x.sample_id, y.sample_id
),
dpairs AS (
  SELECT ta.sample_id AS sample_a, tb.sample_id AS sample_b,
    1000000 - (2000000 * coalesce(s.sum_min, 0)) // (ta.tot + tb.tot)
      AS d_ppm
  FROM tot ta JOIN tot tb ON ta.sample_id < tb.sample_id
  LEFT JOIN shared s
    ON s.sample_a = ta.sample_id AND s.sample_b = tb.sample_id
)
""".strip()

# shared SQL: the b = 0..B label assignments (rank-matched md5 draws)
_PERM_CTES = f"""
perms AS (SELECT unnest(range(1, {_B_PERM + 1})) AS b),
ph AS (
  SELECT b, sample_id,
    md5(CAST(sample_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS h
  FROM sel, perms
),
pr AS (
  SELECT b, sample_id,
    row_number() OVER (PARTITION BY b ORDER BY h, sample_id) AS r
  FROM ph
),
lr AS (
  SELECT grp, row_number() OVER (ORDER BY grp, sample_id) AS r FROM sel
),
pa AS (
  SELECT CAST(0 AS BIGINT) AS b, sample_id, grp FROM sel
  UNION ALL
  SELECT CAST(pr.b AS BIGINT), pr.sample_id, lr.grp
  FROM pr JOIN lr USING (r)
)
""".strip()


# Pairs per Arrow batch the driver reduces: Spark's default
# spark.sql.execution.arrow.maxRecordsPerBatch, so the kernel sees
# batches of one bound on either path.
_BATCH_ROWS = 10_000


def _stored_pairs(spark: SparkSession, sf_dir: str) -> walk.Stored:
    """(sample_a, sample_b, d_ppm) over the bounded selection — READ
    from the distance store: the pair matrix is built once per data
    fingerprint by
    :func:`bpaotu_spark.operators.diststore.anosim_pairs_cached`;
    both permutation tests (and the dispersion/pseudo-F family) only
    re-label and re-aggregate the stored pairs, the textbook
    permutation-on-distance-matrix shape (Anderson 2001)."""
    return walk.stored(
        lambda: anosim_pairs_cached(spark, sf_dir),
        sf_dir,
        "bray_pairs_anosim",
        ("sample_a", "sample_b", "d_ppm"),
        table=_DIST_TABLES,
    )


# The study selection pins exactly two candidate labels
# (ecology._ANOSIM_SEL: c_mktsegment IN ('BUILDING', 'MACHINERY')), so
# a sample's group under every assignment b = 0..B packs into one
# BIGINT bitmask (bit b = 1 iff the b-th assignment maps the sample to
# 'MACHINERY'). A pair is within-group under b iff bit b of
# (mask_a XOR mask_b) is 0, and within group-'MACHINERY' iff both bits
# are 1 — so the B+1 relabeled re-aggregations collapse to ONE pass
# over the stored pair table with B+1 conditional-sum columns, instead
# of a (B+1)x row fan-out through two broadcast joins (guide §2.3/2.4:
# shuffle/scan a lightweight proxy once, never multiply the pair
# stream). The oracle keeps the explicit per-b join form — same values.
_MASK_GRP = "MACHINERY"
_LABELS = ("BUILDING", _MASK_GRP)


def _perm_masks(sel: list[tuple[int, str]]) -> dict[int, int]:
    """sample_id -> mask over the collected (sample_id, grp) selection:
    bit b = [assignment b maps the sample to 'MACHINERY']. b = 0 is the
    observed label; draw b >= 1 ranks the samples by
    (md5('<sample_id>:<b>'), sample_id) and hands them the labels
    ranked by (grp, sample_id) — the oracle's ``_PERM_CTES`` draw."""
    extra = sorted({g for _, g in sel} - set(_LABELS))
    if extra:
        raise ValueError(
            f"permutation masks encode the labels {_LABELS}; the"
            f" selection also holds {extra}"
        )
    labels = [g for g, _ in sorted((g, s) for s, g in sel)]
    masks = {s: int(g == _MASK_GRP) for s, g in sel}
    for b in range(1, _B_PERM + 1):
        drawn = sorted(
            (hashlib.md5(f"{s}:{b}".encode()).hexdigest(), s) for s in masks
        )
        for (_, s), g in zip(drawn, labels):
            if g == _MASK_GRP:
                masks[s] |= 1 << b
    return masks


class PairSumBound(ArithmeticError):
    """A batch of stored pairs breaks a bound the kernel's int64 sums
    rely on."""


_I64_MAX = 2**63 - 1
_D_PPM_MAX = 10**6


def _check_d_ppm(d):
    """``d`` after checking that every value lies in [0, 10⁶]."""
    if len(d) and (int(d.min()) < 0 or int(d.max()) > _D_PPM_MAX):
        raise PairSumBound(
            f"d_ppm in [{int(d.min())}, {int(d.max())}] leaves"
            f" [0, {_D_PPM_MAX}]"
        )
    return d


def _d_ppm_squared(d):
    """d² of a batch's ``d_ppm`` values, after checking both bounds
    of an exact int64 batch sum: d_ppm in [0, 10⁶] (d² ≤ 10¹²), and
    fewer than 2⁶³ / 10¹² (9.2M) rows."""
    _check_d_ppm(d)
    if len(d) > _I64_MAX // _D_PPM_MAX**2:
        raise PairSumBound(f"a batch of {len(d)} pairs can overflow d² sums")
    return d * d


def _rank_milli(pairs: walk.Stored) -> Callable:
    """ANOSIM's ``value`` map for :func:`_pair_sums`: ``d_ppm`` ->
    avg_rank_milli = cum_before·1000 + (cnt + 1)·500, the
    tie-averaged rank (× 1000) of the distance among all stored
    pairs. It comes from a ``d_ppm`` histogram read into the driver,
    batch by batch from the published files or as one grouped Spark
    collect; every value is checked to lie in [0, 10⁶], so the
    histogram holds at most 10⁶ + 1 bins."""
    import numpy as np

    d = pairs.cols[2]

    def arrow_read(dset) -> list:
        return [
            np.unique(b.column(0).to_numpy(), return_counts=True)
            for b in dset.to_batches(columns=[d], batch_size=_BATCH_ROWS)
        ]

    def spark_read(df: DataFrame) -> list:
        # bounded collect: of 10⁶ + 2 distinct values one leaves
        # [0, 10⁶], which the check below raises on
        rows = df.groupBy(d).count().limit(_D_PPM_MAX + 2).collect()
        return [
            (
                np.array([r[0] for r in rows], np.int64),
                np.array([r[1] for r in rows], np.int64),
            )
        ]

    parts = walk.read_stored(pairs, arrow_read, spark_read)
    vals = np.concatenate([np.zeros(0, np.int64), *(v for v, _ in parts)])
    cnts = np.concatenate([np.zeros(0, np.int64), *(c for _, c in parts)])
    u, inv = np.unique(_check_d_ppm(vals), return_inverse=True)
    cnt = np.zeros(len(u), np.int64)
    np.add.at(cnt, inv, cnts)
    rank = (np.cumsum(cnt) - cnt) * 1000 + (cnt + 1) * 500
    return lambda v: rank[np.searchsorted(u, v)]


def _batch_sums(ma, mb, v, slots: Callable):
    """(rows, sum of ``v``) of each slot over one batch, as int64
    arrays; ``slots(ma, mb)`` is the (slot × row) boolean matrix.
    Raises PairSumBound where a sum could pass 2⁶³ − 1."""
    if len(v) and (int(v.min()) < 0 or len(v) * int(v.max()) > _I64_MAX):
        raise PairSumBound(
            f"{len(v)} values in [{int(v.min())}, {int(v.max())}] can"
            " overflow an int64 sum"
        )
    import numpy as np

    sel = slots(ma, mb)
    return sel.sum(axis=1), np.where(sel, v, 0).sum(axis=1)


def _pair_sums(
    pairs: walk.Stored,
    masks: dict[int, int],
    slots: Callable,
    value: Callable | None = None,
) -> dict[int, tuple[int, int]]:
    """slot -> (rows, sum) over ``pairs`` (sample_a, sample_b, value
    column, named in ``pairs.cols``) whose two samples both hold a
    mask, for each slot that saw a row. One kernel reduces the pairs
    batch by batch: in the driver over the published files, or, as
    the fallback, in one ``mapInArrow`` pass over the frame
    ``pairs.df()`` serves and one collect of at most (tasks × slots)
    rows. ``value`` maps the
    batch's value column to the int64 summand (default: the column
    itself)."""
    import numpy as np

    if not masks:
        return {}  # no selected sample: no pair joins a mask
    ids = np.array(sorted(masks), dtype=np.int64)
    mk = np.array([masks[i] for i in sorted(masks)], dtype=np.int64)

    def masks_of(col):
        pos = np.minimum(np.searchsorted(ids, col), len(ids) - 1)
        return mk[pos], ids[pos] == col

    def kernel(batches):
        import pyarrow as pa

        n, tot = None, None
        for b in batches:
            sa, sb, v = (
                b.column(i).to_numpy(zero_copy_only=False).astype(np.int64)
                for i in range(3)
            )
            ma, ha = masks_of(sa)
            mb, hb = masks_of(sb)
            keep = ha & hb  # the inner join to both pair ends
            v = v[keep] if value is None else value(v[keep])
            c, t = _batch_sums(ma[keep], mb[keep], v, slots)
            if n is None:
                n, tot = [0] * len(c), [0] * len(c)
            n = [x + int(y) for x, y in zip(n, c)]
            tot = [x + int(y) for x, y in zip(tot, t)]
        if n is None:
            return
        seen = [k for k, x in enumerate(n) if x]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(seen, pa.int32()),
                pa.array([n[k] for k in seen], pa.int64()),
                pa.array([tot[k] for k in seen], pa.decimal128(38, 0)),
            ],
            names=["slot", "n", "s"],
        )

    cols = list(pairs.cols)

    def arrow_read(dset) -> list:
        batches = dset.to_batches(columns=cols, batch_size=_BATCH_ROWS)
        return [
            row
            for rb in kernel(batches)
            for row in zip(*(c.to_pylist() for c in rb.columns))
        ]

    def spark_read(df: DataFrame) -> list:
        return (
            df.select(*cols)
            .mapInArrow(kernel, "slot int, n long, s decimal(38,0)")
            .collect()
        )

    out: dict[int, tuple[int, int]] = {}
    for slot, n, s in walk.read_stored(pairs, arrow_read, spark_read):
        n0, s0 = out.get(slot, (0, 0))
        out[slot] = (n0 + n, s0 + int(s))
    return out


def _bits(x):
    """(33 × rows) matrix: bit b of each mask, b = 0..B."""
    import numpy as np

    return (x[None, :] >> np.arange(_B_PERM + 1)[:, None]) & 1 == 1


def _anosim_slots(ma, mb):
    """slot 0: every pair; slot 1 + b: the pair is within-group under
    assignment b (bit b of mask_a XOR mask_b is 0)."""
    import numpy as np

    return np.vstack([np.ones((1, len(ma)), bool), ~_bits(ma ^ mb)])


def _permanova_slots(ma, mb):
    """slot 0: every pair; 1 + b: both ends in 'MACHINERY' under b;
    2 + B + b: both ends in the other group under b."""
    import numpy as np

    return np.vstack(
        [np.ones((1, len(ma)), bool), _bits(ma & mb), _bits(~ma & ~mb)]
    )


def _collect_sel(spark: SparkSession, sf_dir: str) -> list[tuple[int, str]]:
    """The study selection (sample_id, grp) in the driver: one Arrow
    scan of the published ``anosim_sel`` artifact, or a Spark collect
    of the served frame."""
    cols = ("sample_id", "grp")
    src = walk.stored(
        lambda: anosim_sel_cached(spark, sf_dir), sf_dir, "anosim_sel", cols,
        table="customer",
    )

    def arrow_read(dset) -> list[tuple[int, str]]:
        t = dset.to_table(columns=list(cols))
        return list(zip(*(t.column(c).to_pylist() for c in cols)))

    def spark_read(df: DataFrame) -> list[tuple[int, str]]:
        return [(int(r[0]), r[1]) for r in df.select(*cols).collect()]

    return walk.read_stored(src, arrow_read, spark_read)


def _p_milli(n_ge_obs: int) -> int:
    return (n_ge_obs + 1) * 1000 // (_B_PERM + 1)


@register(
    "anosim_permutation_p",
    oracle=f"""
WITH {ABUNDANCE_CTE},
{_PAIRS_CTES},
dcnt AS (
  SELECT d_ppm, CAST(count(*) AS BIGINT) AS cnt
  FROM dpairs GROUP BY d_ppm
),
dcum AS (
  SELECT d_ppm,
    CAST(coalesce(sum(cnt) OVER (ORDER BY d_ppm
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before,
    cnt
  FROM dcnt
),
rp AS (
  SELECT sample_a, sample_b,
    cum_before * 1000 + (cnt + 1) * 500 AS avg_rank_milli
  FROM dpairs JOIN dcum USING (d_ppm)
),
{_PERM_CTES},
rb AS (
  SELECT pa1.b,
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CASE WHEN pa1.grp = pa2.grp THEN 1 ELSE 0 END) AS BIGINT)
      AS n_within,
    CAST(sum(CASE WHEN pa1.grp = pa2.grp THEN avg_rank_milli ELSE 0 END)
      AS BIGINT) AS sum_rank_w,
    CAST(sum(CASE WHEN pa1.grp != pa2.grp THEN avg_rank_milli ELSE 0 END)
      AS BIGINT) AS sum_rank_b
  FROM rp
  JOIN pa pa1 ON pa1.sample_id = rp.sample_a
  JOIN pa pa2 ON pa2.sample_id = rp.sample_b AND pa2.b = pa1.b
  GROUP BY pa1.b
),
rd AS (
  SELECT b,
    (sum_rank_b * 1000) // greatest(n_pairs - n_within, 1)
      - (sum_rank_w * 1000) // greatest(n_within, 1) AS diff_micro
  FROM rb
),
obs AS (SELECT diff_micro AS obs_diff FROM rd WHERE b = 0),
ge AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ge_obs FROM rd
  WHERE b > 0 AND diff_micro >= (SELECT obs_diff FROM obs)
)
SELECT CAST((SELECT obs_diff FROM obs) AS BIGINT)
    AS obs_rank_diff_micro,
  CAST({_B_PERM} AS BIGINT) AS n_perm,
  ge.n_ge_obs,
  CAST((ge.n_ge_obs + 1) * 1000 // ({_B_PERM} + 1) AS BIGINT) AS p_milli
FROM ge
""",
)
def anosim_permutation_p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANOSIM permutation test (B=32 md5 label draws): one row
    (obs_rank_diff_micro, n_perm, n_ge_obs, p_milli). The statistic
    compared is the between-vs-within mean-rank difference — the
    numerator of Clarke's R (the constant M/2 cancels under every
    permutation, and each mean divides only positive rank sums)."""
    masks = _perm_masks(_collect_sel(spark, sf_dir))
    pairs = _stored_pairs(spark, sf_dir)
    sums = _pair_sums(pairs, masks, _anosim_slots, _rank_milli(pairs))
    # integer finish in the driver (all operands non-negative, so //
    # is Spark's div); with no pair the oracle has no per-b row at all.
    # A missing within slot is a zero count and sum (the oracle's ELSE 0)
    obs, n_ge = None, 0
    n_pairs, sum_all = sums.get(0, (0, 0))
    if n_pairs:
        diff = []
        for b in range(_B_PERM + 1):
            nw, sw = sums.get(1 + b, (0, 0))
            diff.append(
                (sum_all - sw) * 1000 // max(n_pairs - nw, 1)
                - sw * 1000 // max(nw, 1)
            )
        obs = diff[0]
        n_ge = sum(d >= obs for d in diff[1:])
    return local_frame(
        spark,
        [(obs, _B_PERM, n_ge, _p_milli(n_ge))],
        "obs_rank_diff_micro long, n_perm long, n_ge_obs long,"
        " p_milli long",
    )


@register(
    "permanova_permutation_p",
    oracle=f"""
WITH {ABUNDANCE_CTE},
{_PAIRS_CTES},
{_PERM_CTES},
gn AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g FROM sel GROUP BY grp
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_samples FROM sel),
sst AS (
  SELECT CAST(CAST(sum(CAST(d_ppm AS HUGEINT) * d_ppm) AS HUGEINT)
       // (SELECT n_samples FROM nn) AS BIGINT) AS ss_t
  FROM dpairs
),
sb AS (
  SELECT pa1.b, pa1.grp,
    CAST(sum(CAST(d_ppm AS HUGEINT) * d_ppm) AS HUGEINT) AS s2
  FROM dpairs rp
  JOIN pa pa1 ON pa1.sample_id = rp.sample_a
  JOIN pa pa2 ON pa2.sample_id = rp.sample_b AND pa2.b = pa1.b
  WHERE pa1.grp = pa2.grp
  GROUP BY pa1.b, pa1.grp
),
ssw AS (
  SELECT b, CAST(sum(CAST(s2 // n_g AS BIGINT)) AS BIGINT) AS ss_w
  FROM sb JOIN gn USING (grp) GROUP BY b
),
obs AS (SELECT ss_w AS ss_w_obs FROM ssw WHERE b = 0),
ge AS (
  -- F_b >= F_obs iff (ss_t - ss_w_b)*ss_w_obs >= (ss_t - ss_w_obs)*ss_w_b
  -- (cross-multiplied: denominators positive, d.o.f. constants cancel)
  SELECT CAST(count(*) AS BIGINT) AS n_ge_obs
  FROM ssw, sst, obs
  WHERE b > 0
    AND CAST(sst.ss_t - ssw.ss_w AS HUGEINT) * obs.ss_w_obs
        >= CAST(sst.ss_t - obs.ss_w_obs AS HUGEINT) * ssw.ss_w
)
SELECT sst.ss_t AS ss_total_ppm2,
  (SELECT ss_w_obs FROM obs) AS ss_within_obs_ppm2,
  CAST({_B_PERM} AS BIGINT) AS n_perm,
  ge.n_ge_obs,
  CAST((ge.n_ge_obs + 1) * 1000 // ({_B_PERM} + 1) AS BIGINT) AS p_milli
FROM ge CROSS JOIN sst
""",
)
def permanova_permutation_p(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERMANOVA permutation test (B=32 md5 label draws): one row
    (ss_total_ppm2, ss_within_obs_ppm2, n_perm, n_ge_obs, p_milli).
    Pseudo-F comparisons are exact integer cross-multiplications — no
    ratio is ever formed, so integer semantics match both engines."""
    sel = _collect_sel(spark, sf_dir)
    masks = _perm_masks(sel)
    # bitmask collapse (see _perm_masks): a pair is within-'MACHINERY'
    # under b iff bit b is set in BOTH masks, within the other group
    # iff clear in both — so every permutation's per-group d² sums are
    # slots of ONE kernel pass over the stored pair table (the oracle
    # keeps the explicit per-b join form — same values). A slot no
    # pair reached is absent: the oracle's missing (b, grp) row.
    sums = _pair_sums(
        _stored_pairs(spark, sf_dir), masks, _permanova_slots, _d_ppm_squared
    )
    # integer finish in the driver. Group sizes are permutation-
    # invariant (each draw rank-matches the observed label multiset).
    n_g = Counter(g for _, g in sel)
    ss_t = sums[0][1] // len(sel) if 0 in sums else None
    ss_w = {}
    for b in range(_B_PERM + 1):
        parts = [
            sums[slot][1] // n_g[g]
            for slot, g in ((1 + b, _MASK_GRP), (2 + _B_PERM + b, "BUILDING"))
            if slot in sums
        ]
        if parts:  # both per-group sums NULL: the oracle has no row
            ss_w[b] = sum(parts)
    obs = ss_w.get(0)
    # F_b >= F_obs iff (ss_t - ss_w_b)*ss_w_obs >= (ss_t - ss_w_obs)*ss_w_b
    # (denominators positive, the d.o.f. constants cancel)
    n_ge = 0
    if obs is not None:
        n_ge = sum(
            (ss_t - w) * obs >= (ss_t - obs) * w
            for b, w in ss_w.items()
            if b > 0
        )
    return local_frame(
        spark,
        [(ss_t, obs, _B_PERM, n_ge, _p_milli(n_ge))],
        "ss_total_ppm2 long, ss_within_obs_ppm2 long, n_perm long,"
        " n_ge_obs long, p_milli long",
    )


# ---------------------------------------------------------------------------
# raup_crick_null — Raup–Crick null-model beta diversity (Raup & Crick
# 1979; Chase et al. 2011, the richness-preserving permutation form
# vegan/QIIME report): for each sample pair in an absolute-capped
# cohort (first 16 selected samples — the ordination one-batch
# precedent), compare the OBSERVED shared-species count against B=32
# deterministic null draws in which each sample re-draws its own
# richness uniformly from the cohort species pool. p_milli =
# add-one share of null draws with shared ≥ observed: ≈1000 means the
# pair shares far more than chance (deterministic assembly), ≈0 far
# less. This is the null-model significance layer the plain
# Jaccard/Sørensen operators lack.
#
# Determinism: draw b for sample i = the richness_i pool species
# ranked by md5(otu:sample:b) — engine-identical, richness preserved
# exactly per draw.
#
# Scale shape: cohort capped at 16 ⇒ the draw frame is
# 33·16·|pool| rows windowed per (sample, b); pairs are 120 rows.
# Everything downstream of the one abundance scan is bounded by the
# CAP and the pool, not the corpus.
# ---------------------------------------------------------------------------

_RC_CAP = 16


def _rc_oracle() -> str:
    return f"""
WITH {ABUNDANCE_CTE},
sel0 AS (
  SELECT c_custkey AS sample_id,
    row_number() OVER (ORDER BY c_custkey) AS rn
  FROM customer WHERE {_ANOSIM_SEL}
),
sel AS (SELECT sample_id FROM sel0 WHERE rn <= {_RC_CAP}),
pres AS (
  SELECT DISTINCT ab.sample_id, otu_id
  FROM abundance ab JOIN sel ON ab.sample_id = sel.sample_id
),
pool AS (SELECT DISTINCT otu_id FROM pres),
rich AS (
  SELECT sample_id, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY sample_id
),
perms AS (SELECT unnest(range(1, {_B_PERM + 1})) AS b),
ranked AS (
  SELECT r.sample_id, p.otu_id, perms.b,
    row_number() OVER (PARTITION BY r.sample_id, perms.b
      ORDER BY md5(CAST(p.otu_id AS VARCHAR) || ':'
        || CAST(r.sample_id AS VARCHAR) || ':'
        || CAST(perms.b AS VARCHAR)), p.otu_id) AS rn
  FROM rich r CROSS JOIN pool p CROSS JOIN perms
),
draws AS (
  SELECT rk.sample_id, rk.otu_id, rk.b
  FROM ranked rk JOIN rich ON rich.sample_id = rk.sample_id
  WHERE rk.rn <= rich.a
),
null_shared AS (
  SELECT d1.sample_id AS sample_a, d2.sample_id AS sample_b, d1.b,
    CAST(count(*) AS BIGINT) AS sh
  FROM draws d1 JOIN draws d2
    ON d1.otu_id = d2.otu_id AND d1.b = d2.b
    AND d1.sample_id < d2.sample_id
  GROUP BY d1.sample_id, d2.sample_id, d1.b
),
obs AS (
  SELECT p1.sample_id AS sample_a, p2.sample_id AS sample_b,
    CAST(count(*) AS BIGINT) AS sh
  FROM pres p1 JOIN pres p2
    ON p1.otu_id = p2.otu_id AND p1.sample_id < p2.sample_id
  GROUP BY p1.sample_id, p2.sample_id
),
pairs AS (
  SELECT r1.sample_id AS sample_a, r1.a AS richness_a,
    r2.sample_id AS sample_b, r2.a AS richness_b,
    CAST(coalesce(o.sh, 0) AS BIGINT) AS shared_obs
  FROM rich r1 JOIN rich r2 ON r1.sample_id < r2.sample_id
  LEFT JOIN obs o
    ON o.sample_a = r1.sample_id AND o.sample_b = r2.sample_id
)
SELECT p.sample_a, p.sample_b, p.richness_a, p.richness_b, p.shared_obs,
  CAST(coalesce(sum(ns.sh), 0) * 1000 // {_B_PERM} AS BIGINT)
    AS null_mean_shared_milli,
  CAST(CASE WHEN p.shared_obs = 0 THEN 1000 * (1 + {_B_PERM})
    ELSE 1000 * (1 + coalesce(
      sum(CASE WHEN ns.sh >= p.shared_obs THEN 1 ELSE 0 END), 0))
    END // ({_B_PERM} + 1) AS BIGINT) AS p_milli
FROM pairs p LEFT JOIN null_shared ns
  ON ns.sample_a = p.sample_a AND ns.sample_b = p.sample_b
GROUP BY p.sample_a, p.sample_b, p.richness_a, p.richness_b, p.shared_obs
ORDER BY p.sample_a, p.sample_b
"""


@register("raup_crick_null", oracle=_rc_oracle())
def raup_crick_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raup–Crick pairwise null-model significance over the capped
    cohort: (sample_a, sample_b, richness_a, richness_b, shared_obs,
    null_mean_shared_milli, p_milli)."""
    sel = (
        load_table(spark, sf_dir, "customer")
        .filter(F.expr(_ANOSIM_SEL))
        .select(
            "c_custkey",
            F.row_number()
            .over(Window.orderBy("c_custkey"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= _RC_CAP)
        .select(F.col("c_custkey").alias("sample_id"))
    )
    pres = (
        abundance_selected(
            spark, sf_dir, sel.withColumn("grp", F.lit("x"))
        )
        .select("sample_id", "otu_id")
        .distinct()
        .localCheckpoint()
    )
    pool = pres.select("otu_id").distinct()
    rich = pres.groupBy("sample_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    perms = spark.range(1, _B_PERM + 1).select(
        F.col("id").cast("bigint").alias("b")
    )
    wr = Window.partitionBy("sample_id", "b").orderBy(
        F.expr(
            "md5(concat(CAST(otu_id AS STRING), ':',"
            " CAST(sample_id AS STRING), ':', CAST(b AS STRING)))"
        ),
        F.col("otu_id"),
    )
    ranked = (
        rich.crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(perms))
        .withColumn("rn", F.row_number().over(wr))
    )
    draws = ranked.filter(F.col("rn") <= F.col("a")).select(
        "sample_id", "otu_id", "b"
    )
    d1 = draws.select(
        F.col("sample_id").alias("sample_a"),
        F.col("otu_id").alias("o1"),
        F.col("b").alias("b1"),
    )
    d2 = draws.select(
        F.col("sample_id").alias("sample_b"),
        F.col("otu_id").alias("o2"),
        F.col("b").alias("b2"),
    )
    null_shared = (
        d1.join(
            d2,
            (F.col("o1") == F.col("o2"))
            & (F.col("b1") == F.col("b2"))
            & (F.col("sample_a") < F.col("sample_b")),
        )
        .groupBy("sample_a", "sample_b", F.col("b1").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("sh"))
    )
    p1 = pres.select(
        F.col("sample_id").alias("sample_a"), F.col("otu_id").alias("o1")
    )
    p2 = pres.select(
        F.col("sample_id").alias("sample_b"), F.col("otu_id").alias("o2")
    )
    obs = (
        p1.join(
            p2,
            (F.col("o1") == F.col("o2"))
            & (F.col("sample_a") < F.col("sample_b")),
        )
        .groupBy("sample_a", "sample_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sh_obs"))
    )
    r1 = rich.select(
        F.col("sample_id").alias("sample_a"), F.col("a").alias("richness_a")
    )
    r2 = rich.select(
        F.col("sample_id").alias("sample_b"), F.col("a").alias("richness_b")
    )
    pairs = (
        r1.join(F.broadcast(r2), F.col("sample_a") < F.col("sample_b"))
        .join(F.broadcast(obs), ["sample_a", "sample_b"], "left")
        .select(
            "sample_a",
            "sample_b",
            "richness_a",
            "richness_b",
            F.coalesce("sh_obs", F.lit(0))
            .cast("bigint")
            .alias("shared_obs"),
        )
    )
    return (
        pairs.join(F.broadcast(null_shared), ["sample_a", "sample_b"], "left")
        .groupBy(
            "sample_a", "sample_b", "richness_a", "richness_b", "shared_obs"
        )
        .agg(
            F.expr(
                f"CAST(coalesce(sum(sh), 0) * 1000 DIV {_B_PERM} AS BIGINT)"
            ).alias("null_mean_shared_milli"),
            F.expr(
                f"CAST(CASE WHEN shared_obs = 0 THEN 1000 * (1 + {_B_PERM}) "
                f"ELSE 1000 * (1 + coalesce(sum(CASE WHEN sh >= shared_obs "
                f"THEN 1 ELSE 0 END), 0)) END DIV ({_B_PERM} + 1) AS BIGINT)"
            ).alias("p_milli"),
        )
        .orderBy("sample_a", "sample_b")
    )
