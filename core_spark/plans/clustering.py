"""Clustering-tier declared queries (LLM-pipeline superset).

`q_cluster_kmeans` is the fourth fully-declarative iterative algorithm beside
connected components, PageRank and BPE training: Lloyd k-means whose
every round is engine-exact integer arithmetic, so the oracle (the
same rounds unrolled as chained CTEs) hash-matches the assignments —
not just the row counts — of an iterative float-free clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_spark.io import load_table
from core_spark.operators.clustering import (
    assign,
    assign_scored,
    assign_topn,
    lloyd_kmeans,
    persisted_quantized,
    quantize_vectors,
    train_centroids_row,
)
from core_spark.plans.registry import query, scope

_K = 8
_ROUNDS = 3
_DIMS = 64


def _kmeans_ctes(k: int = _K, rounds: int = _ROUNDS, dims: int = _DIMS) -> str:
    """The Lloyd rounds as a chained-CTE body (the PageRank/BPE
    oracle discipline: same integer ops, same tie-breaks). Ends with
    `c{rounds}` (trained centroids) and `sF` (final assignment) for
    callers to build on."""
    parts = [
        f"""
    v AS (
      SELECT vec_id AS vid,
             list_transform(embedding,
               e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vid) - 1 AS cidx, qv AS cv
      FROM (SELECT vid, qv FROM v ORDER BY vid LIMIT {k}))"""
    ]

    def assign_cte(tag: str, cents: str) -> str:
        return f"""
    a{tag} AS (
      SELECT v.vid, c.cidx,
             CAST(list_sum(list_transform(list_zip(v.qv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
      FROM v, {cents} c),
    s{tag} AS (
      SELECT vid, cidx AS cluster, dist
      FROM a{tag}
      QUALIFY row_number() OVER (PARTITION BY vid ORDER BY dist, cidx) = 1)"""

    for r in range(1, rounds + 1):
        parts.append(assign_cte(str(r), f"c{r - 1}"))
        parts.append(f"""
    u{r} AS (
      SELECT s{r}.cluster, d.pos,
             SUM(v.qv[d.pos + 1]) AS s, COUNT(*) AS c
      FROM s{r} JOIN v USING (vid), (SELECT unnest(range({dims})) AS pos) d
      GROUP BY s{r}.cluster, d.pos),
    c{r} AS (
      SELECT cluster AS cidx,
             list(CAST((s - ((s % c) + c) % c) // c AS BIGINT)
                  ORDER BY pos) AS cv
      FROM u{r} GROUP BY cluster)""")
    parts.append(assign_cte("F", f"c{rounds}"))
    return ",".join(parts)


def _kmeans_oracle(k: int = _K, rounds: int = _ROUNDS, dims: int = _DIMS) -> str:
    return f"""
    WITH {_kmeans_ctes(k, rounds, dims)}
    SELECT vid AS vec_id, CAST(cluster AS BIGINT) AS cluster,
           dist AS dist_sq
    FROM sF ORDER BY vec_id
    """


_L2 = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
)


@query(
    "q_ann_ivf_kmeans",
    oracle=f"""
    WITH {_kmeans_ctes()},
    q AS (SELECT vid, qv FROM v WHERE vid < 10),
    qd AS (
      SELECT q.vid, c.cidx, {_L2.format(a="q.qv", b="c.cv")} AS dist
      FROM q, c{_ROUNDS} c
    ),
    qa AS (
      SELECT vid AS qid, cidx AS cell FROM qd
      QUALIFY row_number() OVER (PARTITION BY vid ORDER BY dist, cidx) <= 2
    ),
    pairs AS (
      SELECT qa.qid, s.vid AS vec_id, qa.cell,
             {_L2.format(a="qv.qv", b="cv.qv")} AS dist_sq
      FROM qa
      JOIN sF s ON s.cluster = qa.cell AND s.vid <> qa.qid
      JOIN v qv ON qv.vid = qa.qid
      JOIN v cv ON cv.vid = s.vid
    )
    SELECT qid, vec_id, CAST(cell AS BIGINT) AS cell, dist_sq FROM (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY dist_sq, vec_id) AS rn
      FROM pairs
    ) WHERE rn <= 3 ORDER BY qid, vec_id
    """,
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the TRAINED quantizer: the q_cluster_kmeans centroids
    replace ann_ivf's designated vectors (the quality upgrade a real
    IVF index ships), and because the whole pipeline — training,
    assignment, 2-probe search, top-3 ranking — runs in quantized
    int64 micros, there is no float anywhere: distances are exact and
    the full composition hash-checks. Scale shape: the index build is
    q_cluster_kmeans (constant-width shuffles); search joins candidates on
    the cell id only (never corpus x corpus); the 8-row centroid
    frame is persisted so the corpus assignment and the query probes
    share one trained DAG."""
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    # ONE persisted quantized corpus must feed training, corpus
    # assignment, query probes AND both sides of the distance join —
    # each consumer would otherwise re-scan and re-quantize.
    vecs = persisted_quantized(quantize_vectors(emb))
    cents = scope().persist(train_centroids_row(vecs, _K, _ROUNDS))
    # Map-side assignment keeps the corpus vector on the row, and the
    # 20-row probe frame carries the query vector — the cell join then
    # needs no corpus re-join by id for either side (r13 opt: the old
    # shape paid two extra corpus-wide joins to re-attach qv/cv).
    cand = assign_scored(vecs, cents).select(
        "vid", F.col("best.cidx").alias("cell"), F.col("qv").alias("cqv")
    )
    qvecs = vecs.filter(F.col("vid") < 10)
    probes = (
        assign_topn(qvecs, cents, 2)
        .select(F.col("vid").alias("qid"), F.col("cidx").alias("cell"))
        .join(
            qvecs.select(F.col("vid").alias("qid"), F.col("qv").alias("qqv")),
            "qid",
        )
    )
    dist = (
        "CAST(aggregate(zip_with(qqv, cqv, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, d) -> acc + d) AS BIGINT)"
    )
    pairs = (
        F.broadcast(probes)
        .join(cand, "cell")
        .filter(F.col("qid") != F.col("vid"))
        .withColumn("dist_sq", F.expr(dist))
    )
    w = W.partitionBy("qid").orderBy("dist_sq", "vid")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "qid",
            F.col("vid").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            "dist_sq",
        )
        .orderBy("qid", "vec_id")
    )


@query("q_cluster_kmeans", oracle=_kmeans_oracle())
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 3 rounds) over the embeddings in integer
    micros — the training loop behind an IVF coarse quantizer, fully
    declarative and engine-exact (see operators/clustering.py for the
    determinism + 100 TB scale notes: per-round cost is one broadcast
    of k rows, one map-side argmin, one k×dims-wide update shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lloyd_kmeans(emb, k=_K, rounds=_ROUNDS)
    return out.select(
        F.col("vid").alias("vec_id"),
        F.col("cluster").cast("long").alias("cluster"),
        F.col("dist_sq"),
    ).orderBy("vec_id")


# --------------------------------------------------------- product quant
_PQ_M = 4        # subspaces
_PQ_D = _DIMS // _PQ_M
_PQ_K = 4        # codewords per subspace
_PQ_ROUNDS = 2
_PQ_NQ = 5       # query vectors: vid < _PQ_NQ
_PQ_TOPK = 10


def _pq_sub_ctes(m: int) -> str:
    """One subspace's codebook training as chained CTEs (the
    _kmeans_ctes discipline on a sliced vector), prefix `m{m}`:
    ends with m{m}c{_PQ_ROUNDS} (codebook) and m{m}sF (codes)."""
    p = f"m{m}"
    lo = m * _PQ_D + 1
    hi = m * _PQ_D + _PQ_D
    parts = [
        f"""
    {p}v AS (SELECT vid, list_slice(qv, {lo}, {hi}) AS qv FROM v),
    {p}c0 AS (
      SELECT row_number() OVER (ORDER BY vid) - 1 AS cidx, qv AS cv
      FROM (SELECT vid, qv FROM {p}v ORDER BY vid LIMIT {_PQ_K}))"""
    ]

    def assign_cte(tag: str, cents: str) -> str:
        return f"""
    {p}a{tag} AS (
      SELECT s.vid, c.cidx,
             CAST(list_sum(list_transform(list_zip(s.qv, c.cv),
                  q -> (q[1] - q[2]) * (q[1] - q[2]))) AS BIGINT) AS dist
      FROM {p}v s, {cents} c),
    {p}s{tag} AS (
      SELECT vid, cidx AS cluster, dist
      FROM {p}a{tag}
      QUALIFY row_number() OVER (PARTITION BY vid ORDER BY dist, cidx) = 1)"""

    for r in range(1, _PQ_ROUNDS + 1):
        parts.append(assign_cte(str(r), f"{p}c{r - 1}"))
        parts.append(f"""
    {p}u{r} AS (
      SELECT {p}s{r}.cluster, d.pos,
             SUM({p}v.qv[d.pos + 1]) AS s, COUNT(*) AS c
      FROM {p}s{r} JOIN {p}v USING (vid),
           (SELECT unnest(range({_PQ_D})) AS pos) d
      GROUP BY {p}s{r}.cluster, d.pos),
    {p}c{r} AS (
      SELECT cluster AS cidx,
             list(CAST((s - ((s % c) + c) % c) // c AS BIGINT)
                  ORDER BY pos) AS cv
      FROM {p}u{r} GROUP BY cluster)""")
    parts.append(assign_cte("F", f"{p}c{_PQ_ROUNDS}"))
    return ",".join(parts)


def _pq_body_ctes() -> str:
    """Everything up to the ranked-ADC CTE `pqt` — shared by
    q_ann_pq's oracle and q_ann_pq_recall's (which joins `pqt` against
    an exact-top-k CTE)."""
    subs = ",".join(_pq_sub_ctes(m) for m in range(_PQ_M))
    # per-subspace ADC tables: query subvector x trained codebook
    tables = ",".join(
        f"""
    m{m}t AS (
      SELECT q.vid AS qid, c.cidx,
             CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS qd
      FROM (SELECT vid, qv FROM m{m}v WHERE vid < {_PQ_NQ}) q,
           m{m}c{_PQ_ROUNDS} c)"""
        for m in range(_PQ_M)
    )
    lookups = " + ".join(
        f"(SELECT qd FROM m{m}t t WHERE t.qid = q.qid"
        f" AND t.cidx = m{m}sF.cluster)"
        for m in range(_PQ_M)
    )
    joins = " ".join(
        f"JOIN m{m}sF ON m{m}sF.vid = x.vid" for m in range(_PQ_M)
    )
    return f"""
    v AS (
      SELECT vec_id AS vid,
             list_transform(embedding,
               e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
    {subs},
    {tables},
    q AS (SELECT DISTINCT vid AS qid FROM v WHERE vid < {_PQ_NQ}),
    adc AS (
      SELECT q.qid, x.vid AS vec_id, {lookups} AS adist
      FROM q, (SELECT vid FROM v) x {joins}
      WHERE x.vid <> q.qid),
    pqt AS (
      SELECT qid, vec_id, adist FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY adist, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {_PQ_TOPK})"""


def _pq_oracle() -> str:
    return f"""
    WITH {_pq_body_ctes()}
    SELECT qid, vec_id, adist FROM pqt ORDER BY qid, vec_id
    """


# Per-row PQ code words for every subspace, against the folded nested
# codebook column `cents`: array (by m) of array<struct<cidx, cv>>.
# Inner argmin = array_min over (dist, cidx) structs — identical
# integer math and ties to the per-subspace Lloyd assignment.
_PQ_CODES = (
    f"transform(transform(cents, (cm, m) -> array_min(transform(cm, c -> "
    f"struct(aggregate(zip_with(slice(qv, m * {_PQ_D} + 1, {_PQ_D}), c.cv, "
    f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, d) -> acc + d) "
    f"AS dist, c.cidx AS cidx)))), s -> s.cidx)"
)

# Fused training-round rows: ONE generator expression producing a
# (m, best, sv) struct per subspace, the argmin computed exactly once
# per subspace inside the generator (the alias-through-Generate
# pitfall — see operators/clustering.py:_EL — would re-evaluate the
# interpreted argmin per exploded element otherwise; measured 10x at
# sf0.1).
_PQ_SUB = (
    f"transform(cents, (cm, m) -> struct(m AS m, "
    f"array_min(transform(cm, c -> struct("
    f"aggregate(zip_with(slice(qv, m * {_PQ_D} + 1, {_PQ_D}), c.cv, "
    f"(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, d) -> acc + d) "
    f"AS dist, c.cidx AS cidx))) AS best, "
    f"slice(qv, m * {_PQ_D} + 1, {_PQ_D}) AS sv))"
)

# Per-query ADC lookup tables: array (by m) of map cidx -> integer
# subdistance between the query's m-th subvector and that codeword.
_PQ_QTAB = (
    f"transform(cents, (cm, m) -> map_from_entries(transform(cm, c -> "
    f"struct(c.cidx, aggregate(zip_with(slice(qv, m * {_PQ_D} + 1, {_PQ_D}), "
    f"c.cv, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
    f"(acc, d) -> acc + d)))))"
)


def _pq_codebooks(vecs: DataFrame) -> DataFrame:
    """Train all _PQ_M codebooks in ONE corpus pass per Lloyd round
    (r13 opt: the per-subspace loop planned 4 independent training
    DAGs — 4x the corpus scans and 4x the update shuffles; fusing them
    keys the update by (m, cluster) so one constant-width wide
    exchange per round serves every subspace).

    Returns a ONE-ROW DataFrame with `cents`: array (by subspace m)
    of array<struct<cidx, cv>> — the round-_PQ_ROUNDS codebooks.
    Integer math, seeds, assignment ties and floor-mean updates are
    exactly the per-subspace originals, so codes hash-match."""
    from pyspark.sql.window import Window as W

    # Seeds: the _PQ_K lowest-vid vectors, sliced per subspace —
    # identical to running seed_centroids on each sliced frame.
    w = W.orderBy("vid")
    seeded = (
        vecs.orderBy("vid")
        .limit(_PQ_K)
        .select((F.row_number().over(w) - 1).alias("cidx"), "qv")
    )
    cents_row = seeded.agg(
        F.array_sort(F.collect_list(F.struct("cidx", "qv"))).alias("seeds")
    ).select(
        F.expr(
            f"transform(sequence(0, {_PQ_M - 1}), m -> transform(seeds, "
            f"s -> struct(s.cidx AS cidx, "
            f"slice(s.qv, m * {_PQ_D} + 1, {_PQ_D}) AS cv)))"
        ).alias("cents")
    )

    for _ in range(_PQ_ROUNDS):
        sub = (
            vecs.crossJoin(F.broadcast(cents_row))
            .select(F.explode(F.expr(_PQ_SUB)).alias("e"))
            .select("e.m", F.col("e.best.cidx").alias("cluster"), "e.sv")
        )
        # ONE wide update exchange for all subspaces: groupBy
        # (m, cluster) with _PQ_D sum columns + a count — 4k rows out,
        # partial-aggregated map-side.
        sums = sub.groupBy("m", "cluster").agg(
            F.count(F.lit(1)).alias("c"),
            *[F.sum(F.expr(f"sv[{i}]")).alias(f"_s{i}") for i in range(_PQ_D)],
        )
        cm = sums.select(
            "m",
            F.col("cluster").alias("cidx"),
            F.array(
                *[
                    F.expr(f"(_s{i} - pmod(_s{i}, c)) DIV c")
                    for i in range(_PQ_D)
                ]
            ).alias("cv"),
        )
        cents_row = cm.agg(
            F.collect_list(F.struct("m", "cidx", "cv")).alias("alls")
        ).select(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), mm -> "
                "array_sort(transform(filter(alls, x -> x.m = mm), "
                "x -> struct(x.cidx AS cidx, x.cv AS cv))))"
            ).alias("cents")
        )
    return cents_row


def _pq_adc_topk(vecs: DataFrame) -> DataFrame:
    """(qid, vec_id, adist): the ADC top-k over a persisted
    quantized corpus — the shared engine behind q_ann_pq and the
    q_ann_pq_recall audit. All codebooks ride one broadcast row;
    corpus codes and per-query lookup tables are computed map-side,
    so the only corpus-wide exchange outside training is the final
    per-query top-k window."""
    from pyspark.sql.window import Window as W

    books = _pq_codebooks(vecs)
    codes = vecs.crossJoin(F.broadcast(books)).select(
        "vid", F.expr(_PQ_CODES).alias("codes")
    )
    qtab_row = (
        vecs.filter(F.col("vid") < _PQ_NQ)
        .crossJoin(F.broadcast(books))
        .select(F.col("vid").alias("qid"), F.expr(_PQ_QTAB).alias("qd"))
        .agg(F.collect_list(F.struct("qid", "qd")).alias("qt"))
    )
    adc = (
        codes.crossJoin(F.broadcast(qtab_row))
        .select("vid", "codes", F.explode("qt").alias("q"))
        .filter(F.col("q.qid") != F.col("vid"))
        .select(
            F.col("q.qid").alias("qid"),
            "vid",
            F.expr(
                "aggregate(zip_with(codes, q.qd, (cd, t) -> element_at(t, cd)),"
                " CAST(0 AS BIGINT), (acc, d) -> acc + d)"
            ).alias("adist"),
        )
    )
    w = W.partitionBy("qid").orderBy("adist", "vid")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("qid", F.col("vid").alias("vec_id"), "adist")
    )


@query("q_ann_pq", oracle=_pq_oracle())
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (Jegou et al. 2011, public): the
    64-dim embeddings split into 4 subspaces, each trained to a
    4-codeword codebook by the SAME integer-micro Lloyd rounds as
    q_cluster_kmeans (operators/clustering.py), every vector encoded
    to 4 one-byte codes, and search runs by Asymmetric Distance
    Computation — the query's per-subspace distance TABLE (a 4x4-row
    broadcast) replaces all full-width distance math, which is
    exactly why PQ scales: at 100 TB the corpus is touched only
    through its codes (M bytes/vector instead of 4*dims), distances
    become M table lookups joined on (subspace, code), and no
    corpus-x-corpus or corpus-x-query full-width pair ever forms.
    Fully integer, so codebooks, codes and ADC ranks hash-match the
    unrolled-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = persisted_quantized(quantize_vectors(emb))
    return _pq_adc_topk(vecs).orderBy("qid", "vec_id")


@query(
    "q_ann_pq_recall",
    oracle=f"""
    WITH {_pq_body_ctes()},
    ex AS (
      SELECT q.vid AS qid, x.vid AS vec_id,
             CAST(list_sum(list_transform(list_zip(q.qv, x.qv),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)
               AS dist
      FROM (SELECT vid, qv FROM v WHERE vid < {_PQ_NQ}) q, v x
      WHERE x.vid <> q.vid),
    ext AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY dist, vec_id) AS rn
        FROM ex
      ) WHERE rn <= {_PQ_TOPK})
    SELECT ext.qid,
           CAST({_PQ_TOPK} AS BIGINT) AS n_exact,
           CAST(COUNT(pqt.vec_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(pqt.vec_id) * 10000 // {_PQ_TOPK} AS BIGINT)
             AS recall_bp
    FROM ext LEFT JOIN pqt USING (qid, vec_id)
    GROUP BY ext.qid ORDER BY ext.qid
    """,
)
def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the PQ index — the verification tier every
    ANN variant here carries (q_ann_recall's convention): exact
    integer-L2 top-{k} per query vector (brute force over the
    corpus — the small-sample x corpus comparison side, NOT the
    scale path) against the ADC top-{k}, reported as integer
    basis-point recall. Fully integer on both sides, so the audit
    itself hash-matches the oracle; a PQ quantization or ADC lookup
    bug shows up as a recall drop the driver catches."""
    from pyspark.sql.window import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = persisted_quantized(quantize_vectors(emb))
    pq = _pq_adc_topk(vecs)

    qv = vecs.filter(F.col("vid") < _PQ_NQ).select(
        F.col("vid").alias("qid"), F.col("qv").alias("qqv")
    )
    dist = (
        "CAST(aggregate(zip_with(qqv, qv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, d) -> acc + d) AS BIGINT)"
    )
    ex = (
        vecs.crossJoin(F.broadcast(qv))
        .filter(F.col("vid") != F.col("qid"))
        .withColumn("dist", F.expr(dist))
    )
    w = W.partitionBy("qid").orderBy("dist", "vid")
    ext = (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_TOPK)
        .select("qid", F.col("vid").alias("vec_id"))
    )
    return (
        ext.join(pq.select("qid", "vec_id", "adist"), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            F.lit(_PQ_TOPK).cast("long").alias("n_exact"),
            F.count("adist").alias("n_overlap"),
            F.expr(f"CAST(count(adist) * 10000 DIV {_PQ_TOPK} AS BIGINT)")
            .alias("recall_bp"),
        )
        .orderBy("qid")
    )
