"""Corpus-curation declared queries: deterministic train/val/test
splitting, benchmark decontamination, and intra-document repetition
scoring (the Gopher-style quality rule).

These close the training-data-pipeline loop around the dedup tier in
plans/llmops.py: after near-dup removal, a real corpus pass (a) splits
the corpus reproducibly, (b) removes documents that leak held-out
evaluation data, and (c) drops degenerate repetitive documents. All
three are pure DataFrame/SQL compositions with value-identical DuckDB
oracles.

Scale notes (100 TB):
- split: map-side only — a salted md5 of the stable doc key, bucketed
  by integer ranges. No shuffle; the assignment is a projection any
  downstream read can recompute (no materialized membership table).
- decontamination: the benchmark side is small by construction (an
  eval suite, not a corpus) -> distinct shingle set is broadcast; the
  corpus side explodes 3-shingles map-side and aggregates once on
  doc_id. One skew-free shuffle at corpus scale.
- repetition: per-doc token stats are array expressions (map-side);
  the top-bigram count is explode -> two-level aggregate keyed on
  (doc_id, bigram) then doc_id — both keys are high-cardinality and
  skew-free, and partial aggregation absorbs the blowup map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_spark.io import load_table
from core_spark.plans.registry import query, scope

# ------------------------------------------------------------------ split
# Salted content-independent hash split. The salt keeps the assignment
# independent of every other md5-keyed operator (dedup buckets, shard
# mappings); bucketing on a hash of the STABLE KEY (not the text) keeps
# a document's split stable under text re-processing.
_SPARK_BUCKET = (
    "CAST(conv(substring(md5(concat('split:', CAST(doc_id AS STRING))), 1, 8), "
    "16, 10) AS BIGINT) % 100"
)
_DUCK_BUCKET = (
    "CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 100"
)


@query(
    "q_datasplit",
    oracle=f"""
    SELECT doc_id,
           {_DUCK_BUCKET} AS bucket,
           CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def q_datasplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: salted md5 of the
    stable doc key -> integer bucket -> range assignment. Map-side
    only; any job can recompute membership without a lookup table."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_BUCKET)
    return (
        docs.select(
            "doc_id",
            bucket.alias("bucket"),
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------- decontamination
@query(
    "q_decontam",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    bench AS (
      SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0
    ),
    corpus AS (
      SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
      FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id,
           c.n_shingles,
           COUNT(*) AS n_overlap,
           CAST(COUNT(*) * 10 >= c.n_shingles AS BIGINT) AS contaminated
    FROM corpus c JOIN bench b USING (s)
    GROUP BY c.doc_id, c.n_shingles
    ORDER BY c.doc_id
    """,
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing word
    3-shingles with a held-out benchmark set (here: doc_id % 97 = 0
    stands in for the eval suite). The benchmark's distinct shingle
    set is broadcast — the corpus side never shuffles its shingles,
    only the per-doc overlap counts. `contaminated` = overlap on
    >= 10% of the doc's shingles (integer cross-multiplication)."""
    from core_spark.operators.dedup import _explode_shingles, _with_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench = (
        _explode_shingles(docs.filter(F.col("doc_id") % 97 == 0), "text", [])
        .select("s")
        .distinct()
    )
    corpus_docs = docs.filter(F.col("doc_id") % 97 != 0)
    # Two branches over the corpus: sizes stay map-side (array size,
    # no generator), overlaps explode. Exploding an array aliased in
    # a previous select re-inlines split() into a per-row generator
    # filter (see operators/dedup.py:_explode_shingles) — measured
    # 8.1 s -> ~1 s at sf0.1 for this query.
    sizes = _with_shingles(corpus_docs, "text", ["doc_id"]).select(
        "doc_id", F.size("sh").alias("n_shingles")
    )
    overlap = (
        _explode_shingles(corpus_docs, "text", ["doc_id"])
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        overlap.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") * 10 >= F.col("n_shingles"))
            .cast("bigint")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- repetition
@query(
    "q_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    st AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct
      FROM t
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS b
      FROM t
    ),
    mx AS (
      SELECT doc_id, MAX(c) AS top_bigram_n
      FROM (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b)
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           s.n_tokens,
           round((s.n_tokens - s.n_distinct) / s.n_tokens, 4)
             AS dup_token_ratio,
           coalesce(mx.top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN s.n_tokens > 1
                THEN round(coalesce(mx.top_bigram_n, 0)
                           / (s.n_tokens - 1.0), 4)
                ELSE 0.0 END AS top_bigram_frac,
           CAST(coalesce(mx.top_bigram_n, 0) * 5 >= (s.n_tokens - 1)
                AND s.n_tokens > 1 AS BIGINT) AS repetitive
    FROM st s LEFT JOIN mx USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scoring (Gopher-style): duplicate-
    token ratio from array expressions (map-side) plus the most-
    frequent-bigram fraction via explode -> (doc_id, bigram) count ->
    per-doc max. `repetitive` = top bigram covers >= 20% of bigram
    slots (integer cross-multiplication, no float threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array before any lambda indexes into it —
    # inlining split() into transform() re-splits per element
    # (quadratic in doc length; see operators/dedup.py:_with_shingles).
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    st = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    bg = t.select(
        "doc_id",
        # sequence(0, -1) steps BACKWARDS in Spark — guard n < 2
        # explicitly instead of clamping the bound.
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat(toks[i], ' ', toks[i+1])) "
                "ELSE array() END"
            )
        ).alias("b"),
    )
    mx = (
        bg.groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_n"))
    )
    top_n = F.coalesce(F.col("top_bigram_n"), F.lit(0))
    return (
        st.join(mx, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens"), 4
            ).alias("dup_token_ratio"),
            top_n.alias("top_bigram_n"),
            F.when(
                F.col("n_tokens") > 1,
                F.round(top_n / (F.col("n_tokens") - 1.0), 4),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
            (
                (top_n * 5 >= F.col("n_tokens") - 1) & (F.col("n_tokens") > 1)
            )
            .cast("bigint")
            .alias("repetitive"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- full pipeline
def _curate_oracle() -> str:
    from core_spark.plans.llmops import (
        DUCK_MINHASH_PAIR_SELECT,
        duck_minhash_ctes,
    )

    return f"""
    WITH RECURSIVE
    canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    d1 AS (SELECT d.doc_id, d.text FROM documents d JOIN canon USING (doc_id)),
    {duck_minhash_ctes("d1")},
    pairs AS ({DUCK_MINHASH_PAIR_SELECT}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON r.node = e.u
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    ),
    d2 AS (
      SELECT d1.doc_id, d1.text FROM d1 LEFT JOIN clusters c USING (doc_id)
      WHERE c.doc_id IS NULL OR c.cluster_id = d1.doc_id
    ),
    gated AS (
      SELECT doc_id, len(toks) AS n_tokens
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM d2)
      WHERE len(toks) >= 10
        AND len(list_filter(toks,
              t -> t IN ('the', 'a', 'and', 'of', 'in'))) * 20 >= len(toks)
    )
    SELECT doc_id, n_tokens,
           CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM gated ORDER BY doc_id
    """


@query("q_curate", oracle=_curate_oracle())
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pass, composed from the tiers
    this engine ships as separate operators: exact dedup (md5
    canonical) -> MinHash near-dup clusters (canonical = component
    min, transitive) -> integer-arithmetic quality gate (>= 10
    tokens, >= 5% stopwords) -> deterministic train/val/test split.
    One declared query proving the operators compose, hash-checked
    end-to-end against the same pipeline as a single recursive-CTE
    oracle.

    Scale shape: each stage is the same plan its standalone query
    pins — no collects, no all-pairs; the only iterative piece is
    the label-propagation loop, which runs at a pinned narrow width
    while the pair pipeline keeps full parallelism."""
    from core_spark.operators.dedup import (
        _with_shingles,
        lsh_candidates,
        minhash_signatures,
        verify_jaccard,
    )
    from core_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    canon = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # d1 feeds the dedup pipeline plus the final survivor join —
    # materialize once, as the jaccard index does
    # (operators/dedup.py:blocked_jaccard_pairs). The shingle table
    # over d1 is additionally persisted so signatures and both
    # verification sides share ONE split+shingle pass of the
    # canonical corpus (r14 opt, guide §2.3/§5 — the same
    # single-text-pass discipline as _minhash_dup_pairs).
    from pyspark import StorageLevel

    d1 = scope().persist(docs.join(canon, "doc_id"), StorageLevel.MEMORY_AND_DISK)
    sh1 = scope().persist(
        _with_shingles(d1, "text", [F.col("doc_id")]), StorageLevel.MEMORY_AND_DISK
    )
    sigs = minhash_signatures(d1, k=16, shingles=sh1)
    cand = lsh_candidates(sigs, bands=4, rows=4)
    pairs = verify_jaccard(cand, d1, shingles=sh1).filter(
        F.col("inter") * 10 >= F.col("uni") * 7
    )
    cc = connected_components(pairs)
    drop = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    d2 = d1.join(drop, "doc_id", "left_anti")
    t = d2.select("doc_id", F.split("text", " ").alias("toks"))
    gated = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(
            "size(filter(toks, t -> t IN ('the', 'a', 'and', 'of', 'in')))"
        ).alias("n_stop"),
    ).filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_stop") * 20 >= F.col("n_tokens"))
    )
    bucket = F.expr(_SPARK_BUCKET)
    return gated.select(
        "doc_id",
        "n_tokens",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# ------------------------------------------------------------- curate v2
def _curate2_oracle() -> str:
    from core_spark.plans.llmops import _SD_DOT, _duck_cos
    from core_spark.plans.mixing import _DUCK_WB

    return f"""
    WITH canon AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    d1 AS (
      SELECT d.doc_id, d.lang, d.text FROM documents d JOIN canon USING (doc_id)
    ),
    e AS (
      SELECT em.vec_id,
             list_transform(em.embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings em JOIN canon c ON em.vec_id = c.doc_id
    ),
    n AS (
      SELECT vec_id,
             list_transform(v, x -> x / (CASE
               WHEN list_sum(list_transform(v, y -> y * y)) = 0 THEN 1
               ELSE sqrt(list_sum(list_transform(v, y -> y * y))) END)) AS vn
      FROM e
    ),
    cents AS (SELECT vec_id AS cent_id, v AS cent_v FROM e
              ORDER BY vec_id LIMIT 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_duck_cos("e.v", "c.cent_v")} DESC, c.cent_id) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    m AS (SELECT vec_id, vn, cell FROM n JOIN assign USING (vec_id)),
    prior AS (
      SELECT b.vec_id, MAX({_SD_DOT}) AS mp
      FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY b.vec_id
    ),
    kept AS (
      SELECT m.vec_id AS doc_id FROM m LEFT JOIN prior p USING (vec_id)
      WHERE COALESCE(round(p.mp, 6), CAST(-2.0 AS DOUBLE))
            < CAST(0.3 AS DOUBLE)
    ),
    d2 AS (SELECT d1.* FROM d1 JOIN kept USING (doc_id)),
    words AS (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM d2
      ) WHERE w <> ''
    ),
    docf AS (
      SELECT doc_id, {_DUCK_WB} AS f,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_en
      FROM words GROUP BY doc_id, {_DUCK_WB}
    ),
    buckets AS (
      SELECT f, SUM(c) + 1 AS cr, SUM(c_en) + 1 AS ct FROM docf GROUP BY f
    ),
    llr AS (
      SELECT f,
             CAST(length(bin(ct)) + length(bin((SELECT SUM(cr) FROM buckets)))
           - length(bin(cr)) - length(bin((SELECT SUM(ct) FROM buckets)))
               AS BIGINT) AS w2
      FROM buckets
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(c * w2) AS BIGINT) AS score
      FROM docf JOIN llr USING (f) GROUP BY doc_id
    )
    SELECT doc_id, score,
           CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM scored ORDER BY doc_id
    """


@query("q_curate2", oracle=_curate2_oracle())
def q_curate2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation composition: exact dedup (md5 canonical)
    -> SemDeDup on the survivors' embeddings (cluster-then-prune,
    operators/similarity.py:semdedup) -> DSIR importance scores over
    the kept set (plans/mixing.py:dsir_scores) -> deterministic
    train/val/test split. The embedding-space sibling of q_curate's
    MinHash pipeline, proving the new tier composes end-to-end under
    one hash-checked oracle.

    Scale shape: each stage keeps its standalone query's plan — the
    exact-dedup aggregate, the broadcast-argmax cell assignment +
    per-cell Arrow gram, the one-pass DSIR aggregate with its 64-row
    broadcast llr table, and the map-side salted split."""
    from core_spark.operators.similarity import semdedup
    from core_spark.plans.mixing import dsir_scores

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # canon is NOT persisted despite feeding two broadcast builds:
    # measured with the docf persist above, caching it was part of a
    # consistent +1.5s q_curate2 regression (r14 interleaved A/B) —
    # the duplicated md5 aggregate is cheaper than a fill barrier.
    canon = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d1 = docs.join(canon, "doc_id")
    sub = emb.join(canon.withColumnRenamed("doc_id", "vec_id"), "vec_id")
    kept = (
        semdedup(sub, threshold=0.3, n_cells=16)
        .filter(F.col("kept"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    d2 = d1.join(kept, "doc_id")
    scores = dsir_scores(d2)
    bucket = F.expr(_SPARK_BUCKET)
    return scores.select(
        "doc_id",
        "score",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# ----------------------------------------------------------- quality NB
@query(
    "q_bayes_quality",
    oracle="""
    WITH lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label_en,
             string_split(text, ' ') AS t
      FROM documents WHERE length(text) > 0
    ),
    doctok AS (
      SELECT doc_id, label_en, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, label_en, unnest(t) AS w FROM lab)
      WHERE w <> '' GROUP BY doc_id, label_en, w
    ),
    wc AS (
      SELECT w, SUM(CASE WHEN label_en = 1 THEN c ELSE 0 END) AS c1,
             SUM(CASE WHEN label_en = 0 THEN c ELSE 0 END) AS c0
      FROM doctok GROUP BY w
    ),
    g AS (
      SELECT SUM(CASE WHEN label_en = 1 THEN c ELSE 0 END) AS tot1,
             SUM(CASE WHEN label_en = 0 THEN c ELSE 0 END) AS tot0,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM doctok
    ),
    nd AS (
      SELECT SUM(label_en) AS n1, COUNT(*) - SUM(label_en) AS n0 FROM lab
    ),
    scored AS (
      SELECT d.doc_id, max(d.label_en) AS label_en,
             SUM(d.c * (length(bin((wc.c1 + 1) * (g.tot0 + g.v)))
                      - length(bin((wc.c0 + 1) * (g.tot1 + g.v)))))
               AS tokbits
      FROM doctok d JOIN wc USING (w) CROSS JOIN g
      GROUP BY d.doc_id
    )
    SELECT s.doc_id,
           CAST(s.label_en AS BIGINT) AS label_en,
           CAST(s.tokbits + length(bin(nd.n1 + 1))
                - length(bin(nd.n0 + 1)) AS BIGINT) AS margin_bits,
           CAST(CASE WHEN s.tokbits + length(bin(nd.n1 + 1))
                          - length(bin(nd.n0 + 1)) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS pred_en
    FROM scored s CROSS JOIN nd ORDER BY doc_id
    """,
)
def q_bayes_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus filter: a multinomial Naive Bayes
    classifier TRAINED AND SCORED in one distributed pass — the
    CCNet/fastText language-filter shape (weak label: the corpus's
    own `lang` tag; features: bag of words) in exact integer
    arithmetic. The decision margin is quantized through the same
    bit-length log2 as q_doc_lm, in the numerically SYMMETRIC
    product form bits((c1+1)*(tot0+V)) - bits((c0+1)*(tot1+V)) — one
    subtraction of same-magnitude quantities, so quantization noise
    cancels instead of biasing the argmax (the naive four-term form
    systematically inflates the sparse class; on this corpus the
    product form reproduces real-valued NB's decisions to 0.2%).
    The synthetic corpus draws every language's text from one shared
    vocabulary, so the trained model correctly collapses to the
    class prior here; tests/test_curation_nb.py trains the same
    operator on a two-vocabulary corpus and pins >95% separation —
    learning is real, the fixture just has nothing to learn.

    Scale shape (100 TB): token counts partial-aggregate map-side on
    (doc_id, word); the model is ONE groupBy(word) table equi-joined
    back on its own key (high-cardinality, df-cappable like
    q_doc_lm's LM tables); totals and priors are one-row broadcasts
    (allowlisted crossJoins). int64 envelope: the margin products
    are bounded by (max word count + 1) * (corpus tokens + V) —
    overflow needs a corpus of ~3e9 tokens in one class AND a word
    carrying ~3e9 occurrences, i.e. products reach 2^63 only past
    ~10^18 token-pairs; the envelope is asserted in the test."""
    docs = load_table(spark, sf_dir, "documents")
    lab = docs.filter(F.length("text") > 0).select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(0))
        .alias("label_en"),
        F.split("text", " ").alias("t"),
    )
    # q_doc_lm's key discipline: words fold to xxhash64 BIGINTs before
    # the aggregation so the count shuffle and the model join compare
    # 8-byte integers (same modulo-2^-64-collision epistemic status;
    # the oracle keys raw strings, keeping the equivalence
    # hash-checked on real data).
    doctok = (
        lab.select(
            "doc_id", "label_en", F.explode("t").alias("w")
        )
        .filter(F.col("w") != "")
        .withColumn("w", F.xxhash64("w"))
        .groupBy("doc_id", "label_en", "w")
        .agg(F.count("*").alias("c"))
    )
    wc = doctok.groupBy("w").agg(
        F.sum(F.when(F.col("label_en") == 1, F.col("c")).otherwise(0))
        .alias("c1"),
        F.sum(F.when(F.col("label_en") == 0, F.col("c")).otherwise(0))
        .alias("c0"),
    )
    g = doctok.agg(
        F.sum(F.when(F.col("label_en") == 1, F.col("c")).otherwise(0))
        .alias("tot1"),
        F.sum(F.when(F.col("label_en") == 0, F.col("c")).otherwise(0))
        .alias("tot0"),
        F.countDistinct("w").alias("v"),
    )
    nd = lab.agg(
        F.sum("label_en").alias("n1"),
        (F.count("*") - F.sum("label_en")).alias("n0"),
    )
    scored = (
        doctok.join(wc, "w")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(
            F.max("label_en").alias("label_en"),
            F.sum(
                F.col("c")
                * (
                    F.length(F.expr("bin((c1 + 1) * (tot0 + v))"))
                    - F.length(F.expr("bin((c0 + 1) * (tot1 + v))"))
                )
            ).alias("tokbits"),
        )
    )
    return (
        scored.crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            F.col("label_en").cast("long").alias("label_en"),
            (
                F.col("tokbits")
                + F.length(F.expr("bin(n1 + 1)"))
                - F.length(F.expr("bin(n0 + 1)"))
            ).cast("long").alias("margin_bits"),
            F.when(
                F.col("tokbits")
                + F.length(F.expr("bin(n1 + 1)"))
                - F.length(F.expr("bin(n0 + 1)"))
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long").alias("pred_en"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------- split leakage
@query(
    "q_audit_leakage",
    oracle=None,  # set below: needs llmops' minhash CTEs at import time
)
def q_audit_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split LEAKAGE audit: verified near-dup pairs that
    straddle a split boundary — the eval-integrity check a corpus
    must pass before its held-out numbers mean anything (a test doc
    whose near-twin sits in train is a leaked answer, not a held-out
    example). Reuses the ONE shared pair pipeline
    (llmops._minhash_dup_pairs: shingle → 16 minhashes → banded LSH
    → exact-Jaccard ≥ 0.7) and the ONE split assignment
    (q_datasplit's salted-md5 buckets), so this audit can never
    drift from what the dedup tier detects or the split tier
    assigns. Emits each cross-split pair with both splits and the
    Jaccard in basis points, ordered.

    100 TB shape: the pair pipeline's banded-bucket shuffle is the
    only all-docs exchange (all-pairs never happens); the split
    columns are map-side md5 projections joined onto the bounded
    verified-pair set by doc id."""
    from core_spark.plans.llmops import _minhash_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = _minhash_dup_pairs(docs)
    bucket = F.expr(_SPARK_BUCKET)
    split = (
        docs.select(
            "doc_id",
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            "doc_a",
            "doc_b",
            "split_a",
            "split_b",
            F.expr("(inter * 10000) div uni").alias("jaccard_bp"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _set_split_leakage_oracle() -> None:
    from core_spark.plans.llmops import (
        DUCK_MINHASH_CTES,
        DUCK_MINHASH_PAIR_SELECT,
    )
    from core_spark.plans.registry import REGISTRY

    REGISTRY["q_audit_leakage"].oracle = f"""
    WITH {DUCK_MINHASH_CTES},
    pairs AS ({DUCK_MINHASH_PAIR_SELECT}),
    sp AS (
      SELECT doc_id,
             CASE WHEN {_DUCK_BUCKET} < 80 THEN 'train'
                  WHEN {_DUCK_BUCKET} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b,
           CAST((p.inter * 10000) // p.uni AS BIGINT) AS jaccard_bp
    FROM pairs p
    JOIN sp a ON p.doc_a = a.doc_id
    JOIN sp b ON p.doc_b = b.doc_id
    WHERE a.split <> b.split
    ORDER BY p.doc_a, p.doc_b
    """


_set_split_leakage_oracle()


# ----------------------------------------------------- stratified sample
_SAMPLE_K = 20
_SPARK_SAMPLE_H = "md5(concat('sample:', CAST(doc_id AS STRING)))"
_DUCK_SAMPLE_H = "md5('sample:' || CAST(doc_id AS VARCHAR))"


@query(
    "q_balance_strat",
    oracle=f"""
    SELECT lang, doc_id, rank FROM (
      SELECT lang, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_DUCK_SAMPLE_H}, doc_id) AS BIGINT) AS rank
      FROM documents
    ) WHERE rank <= {_SAMPLE_K}
    ORDER BY lang, rank
    """,
)
def q_balance_strat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly K docs per stratum
    (lang), chosen by smallest salted md5 — the reproducible,
    engine-independent 'random' sample every corpus audit and eval
    set draws (same salt discipline as q_datasplit: the hash keys a
    STABLE id, so the sample survives text re-processing, and the
    salt decorrelates it from every other md5-keyed operator).

    100 TB shape: partial_topk (the map-side top-k kernel ANN uses)
    reduces each Arrow batch to ≤ K rows per stratum BEFORE the one
    per-stratum exchange, so the final window ranks K x batches
    candidate rows, not the corpus — per-stratum sampling without a
    corpus-wide sort, whatever the stratum skew."""
    from pyspark.sql import Window

    from core_spark.operators.similarity import partial_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.expr(_SPARK_SAMPLE_H).alias("h")
    )
    cand = partial_topk(
        docs, key=["lang"], by=["h", "doc_id"],
        ascending=[True, True], k=_SAMPLE_K,
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _SAMPLE_K)
        .select("lang", "doc_id", "rank")
        .orderBy("lang", "rank")
    )
