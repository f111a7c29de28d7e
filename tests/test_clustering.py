"""Property checks for the declarative Lloyd k-means
(operators/clustering.py) against an imperative integer reference —
the Spark and DuckDB formulations share their derivation, so the
oracle alone can't catch a shared-semantics bug (the q_bpe_train
testing discipline)."""

import math

import numpy as np
import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from core_spark.operators.clustering import lloyd_kmeans


def _half_away(x: float) -> int:
    """round() with half-away-from-zero ties — Spark's and DuckDB's
    double rounding rule (Python's builtin round is banker's)."""
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def _reference_kmeans(vecs: dict[int, list[float]], k: int, rounds: int):
    """Imperative Lloyd with the module's exact integer contract."""
    q = {
        i: [_half_away(float(np.float32(e)) * 1_000_000) for e in v]
        for i, v in vecs.items()
    }
    seeds = sorted(q)[:k]
    cents = {idx: list(q[i]) for idx, i in enumerate(seeds)}

    def assign(cents):
        out = {}
        for i, v in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, cv)), cidx)
                for cidx, cv in cents.items()
            )
            out[i] = (best[1], best[0])
        return out

    for _ in range(rounds):
        a = assign(cents)
        groups: dict[int, list[int]] = {}
        for i, (c, _d) in a.items():
            groups.setdefault(c, []).append(i)
        cents = {
            c: [
                sum(q[i][p] for i in members) // len(members)
                for p in range(len(next(iter(q.values()))))
            ]
            for c, members in sorted(groups.items())
        }
    return assign(cents)


@st.composite
def _vector_sets(draw):
    dim = draw(st.integers(min_value=2, max_value=5))
    n = draw(st.integers(min_value=3, max_value=24))
    grid = st.integers(min_value=-999, max_value=999)
    vecs = draw(
        st.lists(
            st.lists(grid, min_size=dim, max_size=dim),
            min_size=n,
            max_size=n,
        )
    )
    return {i: [g / 1000.0 for g in v] for i, v in enumerate(vecs)}


@settings(max_examples=8, deadline=None)
@given(_vector_sets())
@pytest.mark.slow
def test_lloyd_matches_imperative_reference(spark, vecs):
    """Arbitrary vector sets — including duplicate points (distance
    ties, broken by centroid index) and clusters that lose every
    member mid-iteration (both sides drop them)."""
    want = _reference_kmeans(vecs, k=4, rounds=2)
    df = spark.createDataFrame(
        [(i, [float(np.float32(e)) for e in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vid"]: (r["cluster"], r["dist_sq"])
        for r in lloyd_kmeans(df, k=4, rounds=2).collect()
    }
    assert got == want, (vecs, got, want)


@settings(max_examples=4, deadline=None)
@given(_vector_sets())
@pytest.mark.slow
def test_topn_and_row_form_match_reference(spark, vecs):
    """r13 optimization internals: (a) the frame-form centroids equal
    the row-form loop they unfold; (b) the map-side
    assign_topn (slice of array_sort) equals a per-vector ranking of
    the reference distances, including (dist, cidx) ties."""
    import numpy as np

    from pyspark.sql import functions as F

    from core_spark.operators.clustering import (
        assign_topn,
        persisted_quantized,
        quantize_vectors,
        train_centroids_row,
    )

    df = spark.createDataFrame(
        [(i, [float(np.float32(e)) for e in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    vq = persisted_quantized(quantize_vectors(df))
    # the frame form (cidx, cv): the row form unfolded by a plan
    frame_df = (
        train_centroids_row(vq, 4, 2)
        .select(F.explode("cents").alias("c"))
        .select(F.col("c.cidx").alias("cidx"), F.col("c.cv").alias("cv"))
    )
    frame = {r["cidx"]: r["cv"] for r in frame_df.collect()}
    row = train_centroids_row(vq, 4, 2).collect()
    unrolled = {s["cidx"]: list(s["cv"]) for s in row[0]["cents"]}
    assert {c: list(v) for c, v in frame.items()} == unrolled

    q = {
        i: [
            int(math.floor(abs(float(np.float32(e)) * 1e6) + 0.5))
            * (1 if e >= 0 else -1)
            for e in v
        ]
        for i, v in vecs.items()
    }
    want = {}
    for i, v in q.items():
        scored = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(v, cv)),
                cidx,
            )
            for cidx, cv in unrolled.items()
        )
        want[i] = [(cidx, d) for d, cidx in scored[:2]]
    got: dict[int, list] = {}
    for r in assign_topn(vq, train_centroids_row(vq, 4, 2), 2).collect():
        got.setdefault(r["vid"], []).append((r["cidx"], r["dist_sq"]))
    got = {i: sorted(v, key=lambda t: (t[1], t[0])) for i, v in got.items()}
    assert got == want, (vecs, got, want)
    vq.unpersist()


def test_empty_cluster_vanishes(spark):
    """Three seeds, two tight groups: the middle seed's cluster is
    emptied by the first update and later assignments use only the
    surviving centroids."""
    pts = {
        0: [0.0, 0.0],
        1: [0.001, 0.0],
        2: [0.0005, 0.0],  # middle seed, nearer group A after round 1
        3: [1.0, 1.0],
        4: [1.001, 1.0],
        5: [0.999, 1.0],
    }
    want = _reference_kmeans(pts, k=3, rounds=3)
    df = spark.createDataFrame(
        [(i, [float(np.float32(e)) for e in v]) for i, v in pts.items()],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vid"]: (r["cluster"], r["dist_sq"])
        for r in lloyd_kmeans(df, k=3, rounds=3).collect()
    }
    assert got == want
    assert len({c for c, _ in got.values()}) <= 3
