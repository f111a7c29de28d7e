"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring what a 100 TB training-data pipeline needs:

- `knn_bruteforce`: exact cosine top-k — the correctness baseline.
  Query set broadcast against the STREAMED corpus (the corpus is
  never the broadcast side); per-pair cosines run in an Arrow kernel
  that is bit-identical to the SQL `aggregate`/`zip_with` fold (see
  `_with_pair_cosine`: Spark's higher-order functions are interpreted
  per element, not codegen'd — the kernel is the fast path, the
  expression form remains as `cosine_sim_expr` for oracles); a
  per-batch partial top-k (see `partial_topk`) reduces map-side
  before the per-qid window. Cost O(|Q| x |corpus|): only for small
  query sets / verification.

- `ann_lsh`: random-hyperplane LSH (sign-random-projection). Each
  vector gets a `bucket` = packed signs of `n_planes` fixed ±1
  hyperplanes; the query joins only its bucket — the shuffle is keyed
  on the bucket id, so the corpus is never all-paired. Recall is tuned
  by n_planes (fewer planes → bigger buckets → higher recall/cost).
  The hyperplanes are a deterministic literal (seeded off-engine) so
  results are reproducible and oracle-checkable.

- `ann_ivf`: inverted-file index (IVF) with a deterministic coarse
  quantizer. Centroids are designated corpus vectors (lowest ids)
  rather than k-means-trained ones: Lloyd iterations average floats,
  and float summation order differs across engines/partitionings, so
  trained centroids would make results non-reproducible — the
  engine-exact alternative keeps every IVF *search* property (cell
  assignment by nearest centroid as a broadcast argmax, inverted
  lists keyed by cell, multi-probe queries) while staying
  oracle-checkable. Swapping in k-means centroids is a drop-in
  `centroids` DataFrame.

Float discipline: dot products computed in double, cosine rounded to 6
decimals *before* ranking, ties broken by vec_id — so ranking is
stable across engines and summation orders.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
SPARK_NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def hyperplanes(n_planes: int, dims: int, seed: str = "hp") -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 — identical off-engine
    constant for Spark and any oracle."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dims):
            h = hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()
            row.append(1 if int(h[:8], 16) % 2 == 1 else -1)
        planes.append(row)
    return planes


def cosine_sim_expr(a: str, b: str) -> str:
    """Spark SQL expr: cosine similarity rounded to 6 decimals."""
    dot = SPARK_DOT.format(a=a, b=b)
    na = SPARK_NORM.format(a=a)
    nb = SPARK_NORM.format(a=b)
    return f"round({dot} / ({na} * {nb}), 6)"


def _with_pair_cosine(
    pairs: DataFrame, qv: str, cv: str, out: str, keep: list[str]
) -> DataFrame:
    """Arrow kernel adding `out` = raw (unrounded) cosine of two vector
    columns, dropping the vectors.

    Bit-identical to `cosine_sim_expr` minus the final round: the
    kernel accumulates dimension-major, so per pair the dot is the
    same left fold ((0.0 + a0*b0) + a1*b1) + ... that the SQL
    `aggregate` computes, the norms are the same square folds under
    one sqrt, and the combine is the same dot / (na * nb). IEEE
    double ops are exact, so moving them from the interpreted
    higher-order-function path (measured ~200 us per 64-dim pair —
    boxed, no codegen) into numpy changes nothing but speed. Rounding
    stays JVM-side at the call sites (Spark round half-up == DuckDB;
    numpy rounds half-even, so the kernel never rounds)."""
    schema = T.StructType(
        [pairs.schema[c] for c in keep] + [T.StructField(out, T.DoubleType())]
    )

    def fn(batches):
        import numpy as np

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf[keep].assign(**{out: np.zeros(0, dtype=np.float64)})
                continue
            qa = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[qv]],
                dtype=np.float64,
            )
            ca = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[cv]],
                dtype=np.float64,
            )
            dot = np.zeros(n, dtype=np.float64)
            qn = np.zeros(n, dtype=np.float64)
            cn = np.zeros(n, dtype=np.float64)
            for i in range(qa.shape[1]):
                dot += qa[:, i] * ca[:, i]
                qn += qa[:, i] * qa[:, i]
                cn += ca[:, i] * ca[:, i]
            yield pdf[keep].assign(**{out: dot / (np.sqrt(qn) * np.sqrt(cn))})

    return pairs.mapInPandas(fn, schema)


def _with_srp_bucket(
    df: DataFrame, vec: str, planes: list[list[int]], out: str = "bucket"
) -> DataFrame:
    """Arrow kernel adding `out` = packed hyperplane-sign bucket id —
    the vectorized twin of `bucket_expr`, same fold-order parity
    argument as `_with_pair_cosine` (plane dots accumulate
    dimension-major; the > 0 compare then sees bit-identical
    doubles)."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out, T.IntegerType())]
    )
    pl = [[float(w) for w in row] for row in planes]

    def fn(batches):
        import numpy as np

        pm = np.array(pl, dtype=np.float64)  # (n_planes, dims)
        weights = (1 << np.arange(pm.shape[0])).astype(np.int64)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(**{out: np.zeros(0, dtype=np.int32)})
                continue
            va = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec]],
                dtype=np.float64,
            )
            acc = np.zeros((n, pm.shape[0]), dtype=np.float64)
            for i in range(va.shape[1]):
                acc += np.multiply.outer(va[:, i], pm[:, i])
            b = ((acc > 0) * weights).sum(axis=1).astype(np.int32)
            yield pdf.assign(**{out: b})

    return df.mapInPandas(fn, schema)


def partial_topk(
    df: DataFrame,
    key: list[str],
    by: list[str],
    ascending: list[bool],
    k: int,
) -> DataFrame:
    """Map-side partial top-k: keep at most k rows per key per Arrow
    batch — a superset of the global per-key top-k (any global winner
    is also a winner inside its own batch), so a per-key window over
    the survivors returns exactly the global answer. This is the
    top-k analogue of partial aggregation: it bounds the rows that
    reach the final per-key exchange to k x keys x batches instead of
    the full pair scan, and removes the few-reducer skew of a window
    partitioned by a handful of query ids. Requires `by` to rank
    deterministically (callers pass a unique id as the tie-break
    column, mirroring their window's ORDER BY)."""
    schema = df.schema

    def fn(batches):
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(by, ascending=ascending)
                    .groupby(key, sort=False)
                    .head(k)
                )
            else:
                yield pdf

    return df.mapInPandas(fn, schema=schema)


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (qid, vec_id, sim), self-pairs excluded.

    Orientation: the (small, bounded) QUERY set is broadcast and the
    corpus streams — never the reverse: a corpus-side broadcast would
    both cap the corpus at driver memory and serialize the scan into
    the query side's partitioning. Per-batch partial top-k bounds the
    final per-qid window's input to k x |Q| x batches rows."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    )
    pairs = _with_pair_cosine(
        c.join(F.broadcast(q), F.col("qid") != F.col("vec_id")),
        "qv",
        "cv",
        "sim",
        ["qid", "vec_id"],
    ).withColumn("sim", F.round("sim", 6))
    pairs = partial_topk(
        pairs, ["qid"], ["sim", "vec_id"], [False, True], k
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_filtered(
    queries: DataFrame,
    corpus: DataFrame,
    on: list[str],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filtered exact top-k: cosine neighbors restricted to corpus
    rows sharing the query's metadata column(s) `on` (per-tenant /
    per-label vector search). The filter is not a post-scan WHERE —
    it becomes the EQUI-JOIN key of the broadcast join, so Catalyst
    plans a hash join on `on` and non-matching corpus rows never
    produce a pair row at all. Orientation and bounding as in
    knn_bruteforce: query side broadcast, corpus streams, per-batch
    partial top-k before the final per-qid window.

    Output: (qid, vec_id, sim) plus the `on` columns."""
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        *on,
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        *on,
    )
    pairs = _with_pair_cosine(
        c.join(F.broadcast(q), on=on).filter(
            F.col("qid") != F.col("vec_id")
        ),
        "qv",
        "cv",
        "sim",
        ["qid", "vec_id", *on],
    ).withColumn("sim", F.round("sim", 6))
    pairs = partial_topk(
        pairs, ["qid"], ["sim", "vec_id"], [False, True], k
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bucket_expr(vec_col: str, planes: list[list[int]]) -> str:
    """Spark SQL expr packing hyperplane signs into a bucket id."""
    terms = []
    for p, row in enumerate(planes):
        arr = "array(" + ", ".join(f"{w}D" for w in row) + ")"
        dot = SPARK_DOT.format(a=vec_col, b=arr)
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def ann_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k within the query's LSH bucket.

    Output: (qid, vec_id, bucket, sim)."""
    planes = hyperplanes(n_planes, dims)
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    # Bucket assignment: for narrow configurations the codegen'd
    # expression beats the Arrow kernel (measured at sf0.1, 8 planes x
    # 64 dims: 0.75s vs 0.87s warm — the kernel pays one Arrow
    # round-trip of the whole corpus); for wide ones the kernel's
    # single (n, dims) x (dims, planes) multiply wins and avoids
    # codegen blowup, so cross over on the expression term count.
    if n_planes * dims <= 1024:
        q = q.withColumn("bucket", F.expr(bucket_expr("qv", planes)))
        c = c.withColumn("bucket", F.expr(bucket_expr("cv", planes)))
    else:
        q = _with_srp_bucket(q, "qv", planes)
        c = _with_srp_bucket(c, "cv", planes)
    pairs = _with_pair_cosine(
        q.join(c, ["bucket"]).filter(F.col("qid") != F.col("vec_id")),
        "qv",
        "cv",
        "sim",
        ["qid", "vec_id", "bucket"],
    ).withColumn("sim", F.round("sim", 6))
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embed_near_dup(
    corpus: DataFrame,
    threshold: float = 0.35,
    bands: int = 8,
    planes_per_band: int | str = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 256,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded SRP-LSH.

    The corpus-wide analog of MinHash LSH for the embedding space:
    each vector gets `bands` independent sign-random-projection
    buckets (one per band of `planes_per_band` fixed hyperplanes);
    two vectors become a candidate pair if they share ANY band's
    bucket; candidates are verified with the exact cosine and kept at
    `sim >= threshold`. Output: (a_id, b_id, sim), a_id < b_id.

    Scale shape: the only shuffle is keyed on (band, bucket) — the
    corpus is never all-paired. For a real near-dup corpus
    (threshold ~0.9, where P[plane agrees] = 1 - theta/pi ~ 0.86)
    eight planes per band give 256 buckets each pruning ~99.6% of
    pairs at ~0.995 recall over 16 bands. The demo parameters are
    coarser (4 planes, 8 bands) because the synthetic testdata is
    i.i.d. random — near-threshold pairs are barely more
    plane-correlated than random ones, the LSH-hostile worst case.
    Recall floor is asserted against the brute-force baseline in
    tests/test_similarity.py.

    Vectors are L2-normalized once per vector map-side; pair dots run
    in a per-bucket Arrow kernel (see inline comment: bit-identical
    to the SQL fold, survivors-only output); band copies of a pair
    carry identical sims, so a final `min(sim)` groupBy dedups
    exactly.

    SCALE: bucket population is n / 2^planes_per_band in expectation,
    so FIXED band width makes buckets — and the per-bucket pair
    count — grow LINEARLY with the corpus, i.e. total candidate work
    is Θ(n²/2^planes): fine at demo scale, quadratic at 100×. The
    r6 100× probe caught exactly this (q_embed_dup: 6.6s at 10×,
    >25 min at 100× before the run was killed). The scale path is
    `planes_per_band="auto"`: width = max(4, ⌈log₂(n /
    target_bucket)⌉) computed from one corpus count, holding
    expected bucket occupancy at `target_bucket` rows — candidate
    work becomes Θ(bands · n · target_bucket), linear in the corpus
    (the standard LSH band-width-tracks-corpus-size tuning; recall
    at a given threshold is then governed by `bands`, which the
    caller scales independently). The registered q_embed_dup query
    keeps FIXED width because its DuckDB oracle hash-checks the
    exact bucketization — its parameters are demo-scale by
    declaration (DESIGN §5.1 records both measurements). The kernel
    itself enumerates pairs in bounded tiles, so even a
    pathologically popular bucket costs time, never executor memory.

    Reference parity: gazette/core has no vector tier; this extends
    the dedup family (operators/dedup.py) the same way ann_lsh
    extends search, per the training-data-pipeline brief.
    """
    if planes_per_band == "auto":
        import math as _math

        n_corpus = corpus.count()  # one narrow agg over the id column
        planes_per_band = max(
            4, _math.ceil(_math.log2(max(2.0, n_corpus / target_bucket)))
        )
    all_planes = [
        hyperplanes(planes_per_band, dims, seed=f"nd:{b}") for b in range(bands)
    ]
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    # Bucket signs are scale-invariant: computed on the raw vector.
    # posexplode sits directly beside the array it generates from —
    # never over an alias from an earlier select (generator re-inline
    # trap: InferFiltersFromGenerate would re-evaluate the bucket
    # folds once per downstream predicate).
    bucket_arr = F.array(
        *[F.expr(bucket_expr("v", planes)) for planes in all_planes]
    )
    # Round-robin exchange first: the embeddings scan is narrow (few
    # input splits), and the bucket folds are interpreted
    # higher-order functions — left on the scan stage they run in
    # one task. L2 normalization is NOT an expression here: a
    # `transform(v, x -> x / norm)` lambda gets the norm fold
    # inlined per element by CollapseProject (64 refolds per row);
    # the pair kernel normalizes instead, bit-identically.
    width = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    banded = c.repartition(width).select(
        "vec_id",
        "v",
        F.posexplode(bucket_arr).alias("band", "bkt"),
    )
    # Co-partition on the bucket key, width pinned: the pair stage is
    # CPU-bound on small rows, which AQE's byte-based coalescing
    # would squeeze onto a handful of tasks. The grouped kernel
    # below requires exactly this clustering — no second exchange.
    banded = banded.repartition(width, "band", "bkt")

    # Per-bucket pair kernel. A join + zip_with/aggregate fold is the
    # pure-expression alternative, but Spark's higher-order functions
    # are interpreted per element (boxed, no codegen) — measured
    # ~200 us per 64-dim pair. The Arrow path ships only the bucketed
    # corpus (one row per vector per band), and the kernel
    # accumulates dimension-major: S += outer(V[:,i], V[:,i]) for
    # i = 0..d-1 is, entrywise, the same left fold (0.0 + a0*b0) +
    # a1*b1 + ... the SQL `aggregate` and DuckDB's list_sum compute —
    # IEEE double ops are exact, so the raw dot is bit-identical and
    # the oracle comparison stays valid. Rounding and thresholding
    # happen JVM-side (Spark `round` half-up == DuckDB `round`;
    # numpy rounds half-even, so the kernel never rounds). The
    # kernel pre-filters at threshold - 1e-6 — strictly looser than
    # any dot whose 6-decimal rounding clears the threshold — so
    # Arrow output is survivors-only, not the candidate set.
    guard = threshold - 1e-6

    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "a_id": np.array([], dtype=np.int64),
                "b_id": np.array([], dtype=np.int64),
                "dot": np.array([], dtype=np.float64),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        raw = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]],
            dtype=np.float64,
        )
        # Sequential square fold then per-element division — the same
        # IEEE double ops, in the same order, as the SQL/DuckDB twin.
        acc = np.zeros(n, dtype=np.float64)
        for i in range(raw.shape[1]):
            acc += raw[:, i] * raw[:, i]
        v = raw / np.sqrt(acc)[:, None]
        # Blocked upper-triangle enumeration: memory is bounded by
        # one T x T tile however large the bucket, so a popular
        # bucket costs time, never an executor OOM. Each tile
        # accumulates dimension-major — per pair, the identical
        # IEEE-double op sequence as the single-matrix path and the
        # SQL fold, so dots stay bit-identical.
        T = 2048
        outs = []
        for ti in range(0, n, T):
            vi = v[ti : ti + T]
            for tj in range(ti, n, T):
                vj = v[tj : tj + T]
                s = np.zeros((vi.shape[0], vj.shape[0]), dtype=np.float64)
                for i in range(v.shape[1]):
                    s += np.multiply.outer(vi[:, i], vj[:, i])
                if ti == tj:
                    iu, ju = np.triu_indices(vi.shape[0], k=1)
                else:
                    iu, ju = np.indices(s.shape).reshape(2, -1)
                dots = s[iu, ju]
                m = dots >= guard
                if not m.any():
                    continue
                a = ids[ti + iu[m]]
                b = ids[tj + ju[m]]
                outs.append(
                    pd.DataFrame(
                        {
                            "a_id": np.minimum(a, b),
                            "b_id": np.maximum(a, b),
                            "dot": dots[m],
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    pairs = banded.groupBy("band", "bkt").applyInPandas(
        _bucket_pairs, "a_id long, b_id long, dot double"
    )
    return (
        pairs.select(
            "a_id", "b_id", F.expr("round(dot, 6)").alias("sim")
        )
        .filter(F.col("sim") >= F.lit(threshold).cast("double"))
        .groupBy("a_id", "b_id")
        .agg(F.min("sim").alias("sim"))
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the `n_cells` lowest-id corpus
    vectors as designated centroids (module header: k-means averaging
    is not engine-reproducible in floats; this keeps every IVF search
    property while staying oracle-checkable)."""
    return corpus.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_v")
    )


def ivf_assign(
    df: DataFrame, cents: DataFrame, vec: str, out_id: str, top_n: int
) -> DataFrame:
    """Nearest-centroid cell assignment as a broadcast argmax —
    map-side over the vectors, never all-paired. Returns
    (out_id, cell) with `top_n` cells per vector (multi-probe).
    Rounded-cosine + cent_id tie-break keeps it engine-exact."""
    sims = _with_pair_cosine(
        df.join(F.broadcast(cents)),
        vec,
        "cent_v",
        "csim",
        [out_id, "cent_id"],
    ).withColumn("csim", F.round("csim", 6))
    if top_n == 1:
        return sims.groupBy(out_id).agg(
            F.max_by(
                "cent_id", F.struct(F.col("csim"), -F.col("cent_id"))
            ).alias("cell")
        )
    w = W.partitionBy(out_id).orderBy(F.desc("csim"), F.asc("cent_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(out_id, F.col("cent_id").alias("cell"))
    )


def ivf_assign_kernel(
    df: DataFrame, cents: DataFrame, vec: str, out_id: str
) -> DataFrame:
    """Nearest-centroid assignment as an Arrow argmax kernel — the
    scale twin of `ivf_assign` (top_n=1). The join formulation
    explodes n×C candidate ROWS through the plan; with C scaled to
    the corpus (SemDeDup's C ~ n/1000, or the classic √n balance)
    that row count is quadratic-ish and dominated the r6 semdedup
    100× measurement (231 s, exponent 1.3). Here the centroid matrix
    rides the closure, each input row stays ONE row, and the n×C
    similarity surface is in-kernel flops, accumulated
    dimension-major over bounded centroid tiles — per entry the same
    IEEE fold as the SQL twin, with the identical rounded-cosine +
    lowest-cent_id tie-break, so fixed-C results agree exactly
    (test-pinned). Memory is one batch × tile block. Driver-side
    centroid collect is C·d doubles — C ≤ ~10⁶ is fine; beyond that
    a hierarchical (two-level) quantizer is the right structure."""
    rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
    cent_ids = [int(r["cent_id"]) for r in rows]
    cent_vecs = [list(map(float, r["cent_v"])) for r in rows]

    def _argmax(batches):
        import numpy as np
        import pandas as pd

        cids = np.array(cent_ids, dtype=np.int64)
        cm_raw = np.array(cent_vecs, dtype=np.float64)  # C x d
        acc = np.zeros(len(cids), dtype=np.float64)
        for i in range(cm_raw.shape[1]):
            acc += cm_raw[:, i] * cm_raw[:, i]
        nrm = np.sqrt(acc)
        nrm[nrm == 0.0] = 1.0
        cm = cm_raw / nrm[:, None]
        T = 4096
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[out_id].to_numpy(dtype=np.int64)
            raw = np.array(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec]],
                dtype=np.float64,
            )
            a2 = np.zeros(n, dtype=np.float64)
            for i in range(raw.shape[1]):
                a2 += raw[:, i] * raw[:, i]
            vn = np.sqrt(a2)
            vn[vn == 0.0] = 1.0
            v = raw / vn[:, None]
            best_sim = np.full(n, -np.inf)
            best_id = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
            for t0 in range(0, len(cids), T):
                ct = cm[t0 : t0 + T]
                s = np.zeros((n, ct.shape[0]), dtype=np.float64)
                for i in range(v.shape[1]):
                    s += np.multiply.outer(v[:, i], ct[:, i])
                s = np.round(s, 6)  # the JVM rounds half-up; ties at
                # the 6th decimal between half-up and half-even need a
                # .x5 exact boundary — measure-zero for real dots, and
                # the fixed-C agreement test pins the practical claim
                tid = cids[t0 : t0 + T]
                # cent_ids ascend (ivf_centroids orders by id), so
                # argmax's first-max rule IS the lowest-id tie-break
                j = np.argmax(s, axis=1)
                t_sim = s[np.arange(n), j]
                t_id = tid[j]
                better = (t_sim > best_sim) | (
                    (t_sim == best_sim) & (t_id < best_id)
                )
                best_sim[better] = t_sim[better]
                best_id[better] = t_id[better]
            yield pd.DataFrame({out_id: ids, "cell": best_id})

    return df.select(out_id, vec).mapInPandas(
        _argmax, f"{out_id} long, cell long"
    )


def ann_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: nearest-centroid cell assignment
    (broadcast argmax over `n_cells` designated centroids — map-side,
    the corpus is never all-paired), inverted lists keyed by cell,
    queries probing their `nprobe` nearest cells.

    Cell assignment uses the same rounded-cosine + id tie-break
    discipline as ranking, so it is engine-deterministic. The corpus
    side is one max_by aggregate (partial map-side combine: the
    n_cells candidate rows of a vector collapse before the shuffle);
    the candidate join shuffles on the cell id only.

    Output: (qid, vec_id, cell, sim)."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)

    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    c_cells = ivf_assign(c, cents, "_v", "vec_id", 1)
    inverted = c.join(c_cells, "vec_id").select(
        "vec_id", F.col("_v").alias("cv"), "cell"
    )

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("_v"))
    q_cells = ivf_assign(q, cents, "_v", "qid", nprobe)
    probes = q.join(q_cells, "qid").select("qid", F.col("_v").alias("qv"), "cell")

    pairs = _with_pair_cosine(
        probes.join(inverted, "cell").filter(F.col("qid") != F.col("vec_id")),
        "qv",
        "cv",
        "sim",
        ["qid", "vec_id", "cell"],
    ).withColumn("sim", F.round("sim", 6))
    w = W.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embed_ingest_classify(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.35,
    bands: int = 8,
    planes_per_band: int | str = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket: int = 256,
) -> DataFrame:
    """Incremental embedding-space dedup at ingest — the vector twin
    of the MinHash `lsh_probe` flow (operators/dedup.py, q_dup_ingest):
    classify a new batch against an already-deduped corpus without
    ever pairing the corpus with itself.

    Candidates come from probing the batch's SRP band buckets (the
    same banded hyperplane family as `embed_near_dup`) against the
    corpus's banded rows: the only corpus-wide cost is the
    (band, bucket)-keyed join, candidates are |batch| x bucket-mates,
    and verification is the exact cosine on survivors only. Batch
    self-pairs use first-by-id-wins so the batch's own kept set is
    deterministic. At 100 TB the corpus's banded rows are a persisted
    index updated as batches commit, not recomputed.

    Output per batch vector: (vec_id, n_corpus, n_prior, status) with
    status in {dup_of_corpus, dup_within_batch, unique}.

    SCALE: `planes_per_band="auto"` sizes the band width from the
    CORPUS count exactly as embed_near_dup does (constant expected
    bucket occupancy), so per-batch-row candidates stay
    O(bands · target_bucket) however large the index grows; fixed
    width is the oracle-checkable demo configuration (DESIGN §5.1).
    At deployment the banded corpus index is persisted, so the width
    is fixed at index-build time and rebuilt on decade growth."""
    if planes_per_band == "auto":
        import math as _math

        n_corpus_rows = corpus.count()
        planes_per_band = max(
            4,
            _math.ceil(_math.log2(max(2.0, n_corpus_rows / target_bucket))),
        )
    all_planes = [
        hyperplanes(planes_per_band, dims, seed=f"nd:{b}") for b in range(bands)
    ]
    width = int(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def banded(df):
        # Round-robin exchange before the bucket folds, exactly as
        # embed_near_dup does: the embeddings scan is narrow and the
        # folds are interpreted higher-order functions — left on the
        # scan stage they serialize onto a handful of tasks. Bands
        # carry ids only; verification re-joins vectors by id.
        c = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        arr = F.array(
            *[F.expr(bucket_expr("v", planes)) for planes in all_planes]
        )
        return c.repartition(width).select(
            "vec_id", F.posexplode(arr).alias("band", "bkt")
        )

    bb, bc = banded(batch), banded(corpus)
    va = batch.select(F.col(id_col).alias("_a"), F.col(vec_col).alias("_va"))

    def verified_counts(cand, b_side, key_out, prune=False):
        # b_side: only the table the candidate's doc_b can come from
        # (corpus for batch x corpus pairs, batch for within-batch) —
        # joining a batch∪corpus union would drag the whole corpus
        # into the small within-batch verification join.
        vb = b_side.select(
            F.col(id_col).alias("_b"), F.col(vec_col).alias("_vb")
        )
        if prune:
            # §3.2 prune-before-attach (r14 opt, VERDICT r13 task 3),
            # CORPUS branch only: the verification join used to
            # attach _vb by an UNPRUNED id equi-join, which at scale
            # shuffles (or worse, broadcasts) the whole corpus's
            # vectors to serve a batch-bounded candidate list. The
            # candidate doc_b ids are |batch| x bucket-mates —
            # ingest-batch-bounded — so a broadcast semi-join drops
            # every unmatched corpus row AT THE SCAN before any
            # vector bytes move; only verified-candidate vectors
            # reach the attach join. The candidate frame is persisted
            # (batch-bounded): it feeds both the semi build and the
            # attach join. The within-batch branch skips the prune —
            # both of its sides are already batch-bounded, so the
            # extra semi pass would be pure local overhead.
            from pyspark import StorageLevel

            from core_spark.plans.registry import scope

            cand = scope().persist(cand, StorageLevel.MEMORY_AND_DISK)
            vb = vb.join(
                F.broadcast(
                    cand.select(F.col("doc_b").alias("_b")).distinct()
                ),
                "_b",
                "semi",
            )
        pairs = (
            cand.join(va, cand["doc_a"] == va["_a"])
            .join(vb, cand["doc_b"] == vb["_b"])
        )
        sims = _with_pair_cosine(
            pairs, "_va", "_vb", "sim", ["doc_a", "doc_b"]
        ).withColumn("sim", F.round("sim", 6))
        return (
            sims.filter(F.col("sim") >= F.lit(threshold).cast("double"))
            .groupBy(key_out)
            .agg(F.count("*").alias("n"))
        )

    cand_bc = (
        bb.join(bc, ["band", "bkt"])
        .select(bb["vec_id"].alias("doc_a"), bc["vec_id"].alias("doc_b"))
        .distinct()
    )
    n_corpus = verified_counts(
        cand_bc, corpus, "doc_a", prune=True
    ).withColumnRenamed(
        "doc_a", "vec_id"
    )
    a, b = bb.alias("a"), bb.alias("b")
    # doc_a = the LATER id (the one flagged — first-by-id wins),
    # doc_b = the earlier, keeper id; both are batch vectors.
    cand_bb = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("b.vec_id").alias("doc_a"), F.col("a.vec_id").alias("doc_b")
        )
        .distinct()
    )
    n_prior = verified_counts(cand_bb, batch, "doc_a").withColumnRenamed(
        "doc_a", "vec_id"
    )
    zero = F.lit(0).cast("bigint")
    return (
        batch.select(F.col(id_col).alias("vec_id"))
        .join(n_corpus.withColumnRenamed("n", "n_corpus"), "vec_id", "left")
        .join(n_prior.withColumnRenamed("n", "n_prior"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_corpus", zero).alias("n_corpus"),
            F.coalesce("n_prior", zero).alias("n_prior"),
        )
        .select(
            "vec_id",
            "n_corpus",
            "n_prior",
            F.when(F.col("n_corpus") > 0, "dup_of_corpus")
            .when(F.col("n_prior") > 0, "dup_within_batch")
            .otherwise("unique")
            .alias("status"),
        )
    )


SEMDEDUP_SENTINEL = -2.0  # max_prior for the first vector of its cell


def hard_negatives(
    corpus: DataFrame,
    k: int = 2,
    n_cells: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    target_cell: int = 1024,
) -> DataFrame:
    """Per-example hard-negative mining for contrastive training:
    for EVERY corpus vector, the k most-similar vectors carrying a
    DIFFERENT label, searched within its IVF cell (the `ann_ivf`
    quantizer) — the in-batch-negatives upgrade every embedding-model
    pipeline runs over its full training set.

    Scale shape — the `semdedup` per-cell-kernel discipline, NOT a
    pair join: the corpus shuffles ONCE keyed on the cell id and each
    cell's candidate scoring + top-k selection runs inside one Arrow
    task as a numpy gram (a v1 pair-join formulation shuffled
    sum(|cell|²) candidate ROWS each carrying two 64-dim vectors and
    probed exponent 1.25 in the 10x scale probe; in-kernel the pair
    work is vectorized flops on rows that never leave the task).
    Cell size is the memory/work knob — n_cells ~ n/1000 at 100 TB,
    the SemDeDup paper's own bound.

    Float discipline identical to `semdedup`: normalize-then-dot,
    dimension-major sequential folds (bit-identical to the SQL twin),
    selection by RAW sim with id tie-break, rounding once JVM-side.

    Output: (qid, vec_id, neg_label, sim).

    SCALE: `n_cells="auto"` = max(16, n // target_cell) with
    assignment through `ivf_assign_kernel` (rows stay linear), the
    same treatment as semdedup — fixed n_cells saturates cells and
    makes the in-cell work quadratic (the registered query's
    oracle-pinned demo configuration; DESIGN §5.1). The kernel
    scores in bounded query-row blocks, so memory is block × cell
    regardless of cell size."""
    auto = n_cells == "auto"
    if auto:
        n_cells = max(16, int(corpus.count()) // target_cell)
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        F.col(label_col).alias("_lbl"),
    )
    cells = (
        ivf_assign_kernel(c, cents, "_v", "vec_id")
        if auto
        else ivf_assign(c, cents, "_v", "vec_id", 1)
    )
    assigned = c.join(cells, "vec_id")

    def _cell_topk(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        labs = pdf["_lbl"].to_numpy()[order]
        raw = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["_v"]],
            dtype=np.float64,
        )[order]
        ids = ids[order]
        acc = np.zeros(n, dtype=np.float64)
        for i in range(raw.shape[1]):
            acc += raw[:, i] * raw[:, i]
        norm = np.sqrt(acc)
        norm[norm == 0.0] = 1.0  # semdedup's zero-norm guard
        v = raw / norm[:, None]
        out_q: list = []
        out_v: list = []
        out_l: list = []
        out_s: list = []
        # Blocked scoring: one B x cell similarity strip at a time —
        # memory bounded however large the cell; per entry the same
        # dimension-major fold as the full-gram form (bit-identical).
        B = 512
        for q0 in range(0, n, B):
            vb = v[q0 : q0 + B]
            s = np.zeros((vb.shape[0], n), dtype=np.float64)
            for i in range(v.shape[1]):
                s += np.multiply.outer(vb[:, i], v[:, i])
            for qi in range(vb.shape[0]):
                q = q0 + qi
                cand = np.flatnonzero(labs != labs[q])
                if cand.size == 0:
                    continue
                # primary: sim desc (raw — bit-identical to the SQL
                # fold, so no rounding ambiguity); secondary: id asc
                sel = cand[np.lexsort((ids[cand], -s[qi, cand]))[:k]]
                out_q.extend([int(ids[q])] * len(sel))
                out_v.extend(int(x) for x in ids[sel])
                out_l.extend(int(x) for x in labs[sel])
                out_s.extend(float(x) for x in s[qi, sel])
        return pd.DataFrame(
            {
                "qid": np.array(out_q, dtype=np.int64),
                "vec_id": np.array(out_v, dtype=np.int64),
                "neg_label": np.array(out_l, dtype=np.int32),
                "sim": np.array(out_s, dtype=np.float64),
            }
        )

    out = assigned.groupBy("cell").applyInPandas(
        _cell_topk, schema="qid long, vec_id long, neg_label int, sim double"
    )
    return out.withColumn("sim", F.round("sim", 6))


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_cells: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning within-cluster
    near-duplicates. Each vector is assigned to its nearest
    deterministic centroid (`ivf_assign` — the same coarse quantizer
    as `ann_ivf`); within a cell, a vector is DROPPED when any
    lower-id cellmate has cosine >= threshold with it (the paper
    keeps one representative per epsilon-ball; lowest-id-wins is its
    deterministic instance).

    Complements `embed_near_dup`: LSH banding finds *pairs* globally;
    SemDeDup's cluster-then-prune is the *survivor set* formulation —
    O(sum cell²) instead of bucket-join, with cell size controlled by
    n_cells (the paper uses n_cells ~ n/1000 at 100 TB scale, keeping
    the per-cell gram matrix in one task's memory; the shuffle is
    keyed on the cell id only).

    Output: (vec_id, cell, max_prior, kept) — max_prior is the max
    cosine to any lower-id cellmate, rounded to 6 decimals
    (SEMDEDUP_SENTINEL for the cell's first vector), kept =
    max_prior < threshold. Float discipline identical to
    `embed_near_dup`: normalization and dots run dimension-major in
    an Arrow kernel, bit-identical to the SQL fold; rounding happens
    once, JVM-side.

    SCALE: `n_cells="auto"` sets n_cells = max(16, n // target_cell)
    from one corpus count — the paper's n_cells ~ n/1000 prescription
    made executable, holding expected cell occupancy (and so the
    per-cell gram work) constant as the corpus grows; FIXED n_cells
    is the oracle-checkable demo configuration, quadratic by
    construction at 100× (the same bucket-saturation shape the r6
    100× probe caught in embed_near_dup, DESIGN §5.1). The prior
    kernel runs in bounded tiles either way, so an oversized cell
    costs time, never executor memory."""
    auto = n_cells == "auto"
    if auto:
        n_cells = max(16, int(corpus.count()) // target_cell)
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v"))
    # auto mode assigns through the Arrow argmax kernel: the join
    # formulation's n×C candidate rows are what made scaled-C
    # assignment quadratic-ish (ivf_assign_kernel docstring); the
    # fixed-C demo path keeps the join form its oracle pins.
    assign = ivf_assign_kernel if auto else (
        lambda d, ce, vec, out: ivf_assign(d, ce, vec, out, 1)
    )
    cells = assign(c, cents, "_v", "vec_id")
    assigned = c.join(cells, "vec_id")

    def _cell_prior(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        raw = np.array(
            [np.asarray(x, dtype=np.float64) for x in pdf["_v"]],
            dtype=np.float64,
        )[order]
        ids = ids[order]
        # Same sequential square fold + element division as
        # embed_near_dup's kernel (bit-identical to the SQL twin).
        # Zero-norm guard: an all-zero embedding would normalize to a
        # NaN row, and NaN poisons max() for every higher-id cellmate
        # (silently dropping unrelated vectors). Dividing by 1 keeps
        # the row zero — dot 0 with everything, i.e. maximally
        # dissimilar, matching the oracle's CASE guard.
        acc = np.zeros(n, dtype=np.float64)
        for i in range(raw.shape[1]):
            acc += raw[:, i] * raw[:, i]
        norm = np.sqrt(acc)
        norm[norm == 0.0] = 1.0
        v = raw / norm[:, None]
        # Blocked prior: max-over-lower-ids is order-independent, so
        # tiling changes nothing semantically while bounding memory
        # to one T x T gram however large the cell. Each tile's dots
        # use the same dimension-major fold (bit-identical).
        T = 2048
        prior = np.full(n, SEMDEDUP_SENTINEL, dtype=np.float64)
        for tj in range(0, n, T):
            vj = v[tj : tj + T]
            nj = vj.shape[0]
            best = np.full(nj, -np.inf)
            for ti in range(0, tj + nj, T):
                vi = v[ti : ti + T]
                s = np.zeros((vi.shape[0], nj), dtype=np.float64)
                for i in range(v.shape[1]):
                    s += np.multiply.outer(vi[:, i], vj[:, i])
                gi = ti + np.arange(vi.shape[0])[:, None]
                gj = tj + np.arange(nj)[None, :]
                s[gi >= gj] = -np.inf
                best = np.maximum(best, s.max(axis=0))
            got = best != -np.inf
            prior[tj : tj + nj][got] = best[got]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].iloc[0],
                "max_prior": prior,
            }
        )

    priors = assigned.groupBy("cell").applyInPandas(
        _cell_prior, "vec_id long, cell long, max_prior double"
    )
    return priors.select(
        "vec_id",
        "cell",
        F.round("max_prior", 6).alias("max_prior"),
        (F.round("max_prior", 6) < F.lit(threshold).cast("double")).alias(
            "kept"
        ),
    )
