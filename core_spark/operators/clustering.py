"""Lloyd k-means over embedding vectors, in engine-exact integer
arithmetic.

The reference engine has no clustering operator; this is the
LLM-pipeline superset tier (the training step behind an IVF index's
coarse quantizer and SemDeDup's cluster stage — `similarity.py` uses
designated-vector centroids for those because FLOAT averaging is not
engine-reproducible; this module shows the full Lloyd iteration IS
reproducible once vectors are quantized).

Determinism discipline (the repo-wide integer contract):

- Vectors quantize to int64 micros up front: ``round(e * 1e6)`` is a
  single IEEE double op + half-away rounding, identical in Spark and
  DuckDB. Everything downstream is int64.
- Assignment = argmin of integer squared-L2, ties broken by lower
  centroid index (min over (dist, cidx) structs).
- Update = elementwise *floor* mean ``(s - pmod(s, c)) / c`` — exact
  integer division after subtracting the positive remainder, the same
  value under Spark's truncating DIV and DuckDB's flooring ``//``.

Scale shape (100 TB): one broadcast of the folded k-centroid array per
round (k is a constant — 8 here, ~2^16 for a real IVF index; still
KBs×dims), a fully map-side distance argmin (array_min over the
per-row scored centroid array — no k-way row fanout, no corpus-keyed
aggregate), and one (cluster, dim)-keyed update shuffle whose width is
k×dims — independent of corpus size. Rounds are a fixed constant; the
plan is linear in rounds with no driver-side data movement, and the
only corpus-wide exchange per round is the constant-width update.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

_QUANT = "transform({vec}, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT))"

# Integer squared L2 between the vector and a centroid.
_DIST = (
    "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, d) -> acc + d)"
)

# Per-row scored centroid array: (dist, cidx) structs for every
# centroid in the folded `cents` array column. argmin = array_min
# (struct ordering is lexicographic (dist, cidx) — identical ties to
# the old min(struct(dist, cidx)) aggregate), top-n = slice of
# array_sort (same ordering).
_SCORED = (
    "transform(cents, c -> struct("
    "aggregate(zip_with(qv, c.cv, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, d) -> acc + d) AS dist, c.cidx AS cidx))"
)

# Fused-round update elements: ONE generator expression producing the
# (cluster, pos, val) structs for a row, with the argmin bound exactly
# once via a single-element transform(array(...)) let-binding. A
# two-step "project codes, then posexplode, then index codes" spelling
# is re-inlined by Catalyst through Generate and re-evaluates the
# interpreted argmin per exploded element — measured 10x slower at
# sf0.1 (the same alias-through-Generate pitfall operators/dedup.py
# documents for shingles).
_EL = (
    f"flatten(transform(array(array_min({_SCORED})), best -> "
    "transform(qv, (val, pos) -> "
    "struct(best.cidx AS cluster, pos AS pos, val AS val))))"
)


def quantize_vectors(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vid, qv): int64-micro copies of the input vectors."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.expr(_QUANT.format(vec=vec_col)).alias("qv"),
    )


def seed_centroids(vecs: DataFrame, k: int) -> DataFrame:
    """Deterministic init: the k lowest-id vectors, indexed 0..k-1
    (the designated-vector discipline of `similarity.ivf_centroids`)."""
    w = W.orderBy("vid")  # k rows only — not a data-scale window
    return (
        vecs.orderBy("vid")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).alias("cidx"),
            F.col("qv").alias("cv"),
        )
    )


def centroids_row(cents: DataFrame) -> DataFrame:
    """Fold the (cidx, cv) centroid frame into ONE row holding the
    cidx-sorted array<struct<cidx, cv>> — the broadcastable scalar
    form that lets assignment run map-side (argmin inside the row)
    instead of a k-fanout join followed by a corpus-wide
    min-over-struct sort-aggregate (r13 opt: the old shape planned
    Exchange(vid) + two SortAggregates per Lloyd round)."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cidx", "cv"))).alias("cents")
    )


def assign_scored(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """vecs + a `best` struct column, computed map-side under a
    one-row centroid-array broadcast. Keeps every vecs column.
    `cents` may be the (cidx, cv) frame or the folded one-row form
    (a `cents` array column, e.g. from train_centroids_row)."""
    row = cents if "cents" in cents.columns else centroids_row(cents)
    return (
        vecs.crossJoin(F.broadcast(row))
        .withColumn("best", F.expr(f"array_min({_SCORED})"))
        .drop("cents")
    )


def assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: (vid, cluster, dist_sq).

    Map-side argmin under a one-row broadcast of the folded centroid
    array — zero corpus-wide shuffles; ties break to the lower
    centroid index exactly as the old min(struct(dist, cidx))
    aggregate did (array_min struct ordering)."""
    return assign_scored(vecs, cents).select(
        "vid",
        F.col("best.cidx").alias("cluster"),
        F.col("best.dist").alias("dist_sq"),
    )


def update(vecs: DataFrame, assigned: DataFrame) -> DataFrame:
    """Elementwise floor-mean centroids for the next round.

    One (cluster, pos)-keyed shuffle of width k×dims; clusters that
    lost every member simply vanish (both engines' GROUP BY agree).
    When `assigned` already carries `qv` (the fused map-side
    assignment of the training loop), the vid re-join of the corpus is
    skipped entirely."""
    if "qv" in assigned.columns:
        src = assigned.select("cluster", "qv")
    else:
        src = vecs.join(assigned.select("vid", "cluster"), "vid")
    el = src.select("cluster", F.posexplode("qv").alias("pos", "val"))
    return _mean_from_el(el)


def _mean_from_el(el: DataFrame) -> DataFrame:
    """(cluster, pos, val) element rows -> (cidx, cv) floor-mean
    centroids (the shared tail of update() and the fused round)."""
    m = (
        el.groupBy("cluster", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
        .withColumn("m", F.expr("(s - pmod(s, c)) DIV c"))
    )
    return m.groupBy("cluster").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, m))), x -> x.m)").alias(
            "cv"
        )
    ).select(F.col("cluster").alias("cidx"), "cv")


def persisted_quantized(vecs: DataFrame) -> DataFrame:
    """Iterative-input cache: every round reads the quantized corpus
    twice (assignment and update) and each centroid broadcast is its
    own job, so the unpersisted loop re-scans + re-quantizes ~2x per
    round. At sf0.1 the parquet scan is OS-page-cached and the
    measured delta is within host noise (~3.3s either way); the
    persist is for real input sizes, where 2x rounds re-scans of a
    non-cached corpus dominate. MEMORY_AND_DISK, int64 vectors =
    input-sized."""
    from pyspark import StorageLevel

    from core_spark.plans.registry import scope

    return scope().persist(vecs, StorageLevel.MEMORY_AND_DISK)


# Fold the per-(cluster, pos) floor-means straight into the one-row
# broadcastable form: group by cluster, order positions, emit the
# sorted (cidx, cv) struct array. Runs on k x dims rows inside a
# single global aggregate — merging what was a groupBy(cluster)
# exchange + a separate fold exchange into one tiny stage.
_FOLD = (
    "transform(array_sort(array_distinct(transform(alls, x -> x.cluster))), "
    "c -> struct(c AS cidx, "
    "transform(array_sort(filter(alls, x -> x.cluster = c)), x -> x.m) AS cv))"
)


def train_centroids_row(vecs: DataFrame, k: int, rounds: int) -> DataFrame:
    """`rounds` fused Lloyd iterations in the ONE-ROW centroid form:
    per round, a map-side assignment + element fan-out in one
    generator expression (argmin bound once per row — see _EL), one
    constant-width (cluster, pos) exchange, and one scalar fold back
    to the broadcastable row. Identical integer math, seeds, ties and
    floor-means to the frame-form loop."""
    row = centroids_row(seed_centroids(vecs, k))
    for _ in range(rounds):
        el = (
            vecs.crossJoin(F.broadcast(row))
            .select(F.explode(F.expr(_EL)).alias("e"))
            .select("e.cluster", "e.pos", "e.val")
        )
        m = (
            el.groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("c"))
            .withColumn("m", F.expr("(s - pmod(s, c)) DIV c"))
        )
        row = m.agg(
            F.collect_list(F.struct("cluster", "pos", "m")).alias("alls")
        ).select(F.expr(_FOLD).alias("cents"))
    return row


def assign_topn(vecs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Multi-probe assignment: each vector's `n` nearest centroids by
    (dist, cidx) — (vid, cidx, dist_sq) rows. Map-side: the sorted
    scored array is sliced to its first n entries inside the row (no
    per-vector window shuffle); ordering matches the old
    row_number-over-(dist, cidx) exactly. `cents` may be the frame or
    the folded row form."""
    row = cents if "cents" in cents.columns else centroids_row(cents)
    topn = (
        vecs.crossJoin(F.broadcast(row))
        .select(
            "vid",
            F.explode(F.expr(f"slice(array_sort({_SCORED}), 1, {int(n)})")).alias(
                "s"
            ),
        )
    )
    return topn.select(
        "vid", F.col("s.cidx").alias("cidx"), F.col("s.dist").alias("dist_sq")
    )


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`rounds` Lloyd iterations; returns the final assignment
    (vid, cluster, dist_sq) against the round-`rounds` centroids.
    Training and the final assignment share one persisted quantized
    corpus (and the centroids stay in the folded row form end to
    end — no unfold/refold between training and assignment)."""
    vecs = persisted_quantized(quantize_vectors(df, id_col, vec_col))
    return assign(vecs, train_centroids_row(vecs, k, rounds))
