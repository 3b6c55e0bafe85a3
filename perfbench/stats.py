"""Order statistics with their sample counts."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank ``q``-th percentile of ``values``.

    Returns the value with ``n`` (samples) and ``beyond`` (samples above
    the chosen rank), so a reader can tell how well the tail is covered.
    """
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return {"value": ordered[rank - 1], "n": len(ordered), "beyond": len(ordered) - rank}


def latency_report(values: list[float]) -> dict:
    """Median, plus p90 and p99 where at least ten samples lie beyond them.

    Every entry carries its sample count; a tail percentile that lacks
    ten samples beyond it is listed under ``absent`` with the count.
    """
    out = {"p50": {"value": statistics.median(values), "n": len(values)}}
    absent = {}
    for q in (90, 99):
        p = percentile(values, q)
        if p["beyond"] >= 10:
            out[f"p{q}"] = p
        else:
            absent[f"p{q}"] = f"{p['beyond']} samples beyond it, 10 needed (n={p['n']})"
    if absent:
        out["absent"] = absent
    return out


def geomean(values: list[float]) -> dict:
    """Geometric mean of ``values``, with the sample count.

    Over whole rounds, which hold every request kind equally often, a
    share saved on a fast kind moves it as much as the same share saved
    on a slow one; a pooled median would instead jump between the
    latencies of the two middle kinds.
    """
    if not values:
        raise ValueError("geometric mean of no samples")
    return {"value": math.exp(statistics.fmean(math.log(v) for v in values)), "n": len(values)}


def median_round(by_kind: dict[str, list[float]]) -> dict:
    """A round in which every kind takes the median of its latencies.

    ``latency_s`` is the geometric mean of the kinds' medians and
    ``requests_per_s`` the rate of that round: the number of kinds over
    the sum of their medians. ``n`` counts the samples behind them. A
    host stall that slows one of a kind's three or more calls leaves
    both unchanged; a change that slows most calls of a kind moves both.
    """
    if not by_kind or not all(by_kind.values()):
        raise ValueError("median round of a kind without samples")
    medians = [statistics.median(v) for v in by_kind.values()]
    return {
        "latency_s": geomean(medians)["value"],
        "requests_per_s": len(medians) / sum(medians),
        "n": sum(len(v) for v in by_kind.values()),
    }
