"""Mergeable t-digest quantile sketches (north rule: "approx-quantile via
t-digest sketches").

Algorithm: Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
t-Digests" (arXiv:1902.04023) — the *merging digest* variant with scale
function k(q) = δ/(2π)·asin(2q−1), which bounds centroid count at O(δ) and
keeps accuracy highest at the tails.

Spark shape (the partial/final pattern, SURVEY.md §4):
  1. ``mapInPandas`` builds ONE digest per input partition from Arrow batches
     (vectorized numpy — no per-row Python), emitting a single tiny row
     (means[], weights[], n, min, max) per partition;
  2. the ≤ num_partitions partial rows are collected and merged on the
     driver — t-digests are mergeable by construction, so this is exact
     w.r.t. the sketch semantics;
  3. the merged digest serializes to JSON for the checkpoint/state table
     (resume never rebuilds completed partitions' sketches).

``percentile_approx`` (Greenwald-Khanna, built-in) remains the DuckDB-oracle
path in ``operators/stats.py``; this module is the scale path with strictly
mergeable state.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from typing import Iterator, List, Sequence

import numpy as np
from pyspark.sql import DataFrame

_TAU = 2.0 * math.pi


def _k(q: np.ndarray | float, delta: float):
    return delta / _TAU * np.arcsin(2.0 * np.asarray(q, dtype=np.float64) - 1.0)


def _merge_centroids(
    means: np.ndarray, weights: np.ndarray, delta: float
) -> tuple[np.ndarray, np.ndarray]:
    """One compression pass, fully vectorized: sort by mean, bucket each
    point by the integer floor of its k-scale midpoint. Every bucket spans
    < 1 unit of k, so the t-digest size bound k(q_right) − k(q_left) ≤ 1
    holds; centroid count stays O(δ). No per-value Python loop — numpy
    sort + bincount only (this is the hot path of the mapInPandas build)."""
    if means.size == 0:
        return means, weights
    order = np.argsort(means, kind="mergesort")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = w.sum()
    q_mid = (np.cumsum(w) - w / 2.0) / total
    k = _k(np.clip(q_mid, 0.0, 1.0), delta)
    bucket = np.floor(k - k[0]).astype(np.int64)
    # floating error can make floor() dip; enforce monotone bucket ids
    bucket = np.maximum.accumulate(bucket)
    nb = int(bucket[-1]) + 1
    wsum = np.bincount(bucket, weights=w, minlength=nb)
    msum = np.bincount(bucket, weights=w * m, minlength=nb)
    keep = wsum > 0
    return msum[keep] / wsum[keep], wsum[keep]


@dataclass
class TDigest:
    means: np.ndarray
    weights: np.ndarray
    n: int
    vmin: float
    vmax: float
    delta: float = 100.0

    @classmethod
    def empty(cls, delta: float = 100.0) -> "TDigest":
        return cls(np.array([]), np.array([]), 0, math.inf, -math.inf, delta)

    @classmethod
    def of(cls, values: np.ndarray, delta: float = 100.0) -> "TDigest":
        values = np.asarray(values, dtype=np.float64)
        values = values[~np.isnan(values)]
        if values.size == 0:
            return cls.empty(delta)
        m, w = _merge_centroids(values, np.ones_like(values), delta)
        return cls(m, w, int(values.size), float(values.min()), float(values.max()), delta)

    def merge(self, other: "TDigest") -> "TDigest":
        if other.n == 0:
            return self
        if self.n == 0:
            return other
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        mm, mw = _merge_centroids(m, w, self.delta)
        return TDigest(
            mm, mw, self.n + other.n,
            min(self.vmin, other.vmin), max(self.vmax, other.vmax), self.delta,
        )

    def quantile(self, q: float) -> float:
        """Interpolated quantile; exact at the min/max tails."""
        if self.n == 0:
            return math.nan
        if q <= 0:
            return self.vmin
        if q >= 1:
            return self.vmax
        target = q * float(self.weights.sum())
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(
                self.vmin
                + (target / cum[0]) * (self.means[0] - self.vmin)
                if cum[0] > 0 else self.means[0]
            )
        if target >= cum[-1]:
            span = float(self.weights.sum()) - cum[-1]
            frac = (target - cum[-1]) / span if span > 0 else 0.0
            return float(self.means[-1] + frac * (self.vmax - self.means[-1]))
        idx = int(np.searchsorted(cum, target))
        lo_c, hi_c = cum[idx - 1], cum[idx]
        frac = (target - lo_c) / (hi_c - lo_c) if hi_c > lo_c else 0.0
        return float(self.means[idx - 1] + frac * (self.means[idx] - self.means[idx - 1]))

    # ---- serialization for the checkpoint/state table -------------------
    def to_json(self) -> str:
        return json.dumps(
            {
                "means": [float(x) for x in self.means],
                "weights": [float(x) for x in self.weights],
                "n": self.n,
                "min": self.vmin,
                "max": self.vmax,
                "delta": self.delta,
            }
        )

    @classmethod
    def from_json(cls, s: str) -> "TDigest":
        d = json.loads(s)
        return cls(
            np.asarray(d["means"]), np.asarray(d["weights"]),
            int(d["n"]), float(d["min"]), float(d["max"]), float(d["delta"]),
        )


PARTIAL_SCHEMA = (
    "key string, means array<double>, weights array<double>, "
    "n long, vmin double, vmax double"
)


def partial_digests(
    df: DataFrame, column: str, *, delta: float = 100.0
) -> DataFrame:
    """One digest row per input partition via ``mapInPandas`` — Arrow
    batches in, a single tiny row out per partition (per-key sketches are
    :func:`keyed_digests`)."""
    src = df.select(column)

    def build(batches: Iterator) -> Iterator:
        import pandas as pd

        d = None
        for pdf in batches:
            part = TDigest.of(
                pdf[column].to_numpy(dtype="float64", na_value=np.nan), delta
            )
            d = part if d is None else d.merge(part)
        rows = [] if d is None else [{
            "key": "__all__",
            "means": list(map(float, d.means)),
            "weights": list(map(float, d.weights)),
            "n": d.n,
            "vmin": d.vmin if d.n else None,
            "vmax": d.vmax if d.n else None,
        }]
        yield pd.DataFrame(
            rows, columns=["key", "means", "weights", "n", "vmin", "vmax"]
        )

    return src.mapInPandas(build, schema=PARTIAL_SCHEMA)


def keyed_digests(
    df: DataFrame, column: str, key_col: str, *, delta: float = 100.0
) -> DataFrame:
    """One deterministic t-digest per ``key_col`` group, serialized for the
    checkpoint state table: (key_col, state_json).

    Built with ``applyInPandas`` over the FULL group, so the digest depends
    only on the group's values — ``TDigest.of`` sorts internally, making the
    result bit-reproducible across runs, partitionings, and task retries.
    That determinism is what lets a crash/resume run's persisted sketches
    compare EQUAL to a single-shot run's (see checkpoint.merged_state_digest).
    The shuffle key is the checkpoint partition key — the same granularity
    the state table stores, so each group is one state row.
    """
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        d = TDigest.of(
            pdf[column].to_numpy(dtype="float64", na_value=np.nan), delta
        )
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "state_json": [d.to_json()]}
        )

    # the output key keeps the INPUT key's type (an int part key must not
    # come back as a wrong-typed state row that mismatches the checkpoint
    # join); applyInPandas gets the matching Arrow schema
    key_type = df.schema[key_col].dataType.simpleString()
    return (
        df.select(key_col, column)
        .groupBy(key_col)
        .applyInPandas(build, schema=f"{key_col} {key_type}, state_json string")
    )


def tdigest_quantiles(
    df: DataFrame,
    column: str,
    quantiles: Sequence[float],
    *,
    delta: float = 100.0,
) -> List[float]:
    """Distributed build + driver merge → quantile estimates."""
    d = merged_digest(df, column, delta=delta)
    return [d.quantile(q) for q in quantiles]


def merged_digest(df: DataFrame, column: str, *, delta: float = 100.0) -> TDigest:
    parts = partial_digests(df, column, delta=delta).collect()
    out = TDigest.empty(delta)
    for r in parts:
        if r["n"] == 0:
            continue
        part = TDigest(
            np.asarray(r["means"]), np.asarray(r["weights"]),
            int(r["n"]), float(r["vmin"]), float(r["vmax"]), delta,
        )
        out = out.merge(part)
    return out
