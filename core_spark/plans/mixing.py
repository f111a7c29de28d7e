"""Corpus-composition operators: domain mixing weights, importance
resampling, and tokenizer-training statistics.

The third tier of the LLM-data superset (after cleaning in scrub.py /
curation.py and retrieval in ranking.py): once a corpus is curated,
a training run still needs (a) a *mixture* over domains hitting a
global token budget (water-filling — the capped-proportional
allocation used by data-mixing recipes), (b) *importance weights*
against a target distribution (DSIR-style hashed-n-gram
log-likelihood ratios; Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"), and (c) the *pair statistics*
a BPE tokenizer trainer consumes (Sennrich et al. 2016).

All three are integer-exact: the water level is integer division over
cumulative sums, the DSIR log-ratio uses the integer floor-log2
`length(bin(x)) - 1` (identical in Spark and DuckDB — no float log
whose last ulp could flip a rounding), and pair counts are plain
sums. Every query is hash-checkable end to end.

Reference parity: gazette/core has no corpus-composition tier; these
extend the declared query set per the training-data-pipeline brief
the same way operators/dedup.py extends it for near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from core_spark.io import load_table
from core_spark.plans.registry import query, scope

# ------------------------------------------------------------ domain mix
#
# Water-filling: given per-domain token counts n_i and a budget
# B = floor(3/5 * total), allocate alloc_i = min(n_i, L) where the
# water level L is the largest integer with sum(min(n_i, L)) <= B,
# then hand the remaining B - sum(min(n_i, L)) tokens, one each, to
# the capped domains in (n, source) order. Small domains keep all
# their tokens; large ones are capped at a common level — the
# standard "no domain dominates the mixture" recipe.
#
# Found in closed form over the sorted domain table: with domains
# sorted ascending and cum_k the cumulative sum, the unique boundary
# row p satisfies n_{p-1} <= L_p < n_p for
# L_p = (B - cum_{p-1}) // (d - p + 1); rows before p are fully
# funded, rows from p on get L_p (+1 for the first `rem` of them).
# Uniqueness + exactness are property-tested against an imperative
# reference in tests/test_mixing.py.

_MIX_NUM, _MIX_DEN = 3, 5  # budget = 3/5 of total tokens


def waterfill_alloc(domains: DataFrame) -> DataFrame:
    """Water-filling allocation over a (source, n_tokens) DataFrame.

    Returns (source, n_tokens, alloc_tokens). Runs entirely on the
    post-aggregation domain table — at 100 TB that table is one row
    per domain (dozens), so the unpartitioned windows below scan a
    frame that fits in one cache line-sized task; the corpus-sized
    work is the upstream token count, which partial-aggregates
    map-side."""
    w = Window.orderBy("n_tokens", "source")
    wg = Window.partitionBy()  # tiny post-agg frame; see docstring
    o = domains.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rk"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.lag("n_tokens").over(w).alias("prev_n"),
        F.sum("n_tokens").over(wg).alias("total"),
        F.count("*").over(wg).alias("d"),
    )
    lv = o.select(
        "*",
        F.expr(f"total * {_MIX_NUM} div {_MIX_DEN}").alias("b"),
    ).select(
        "*",
        F.expr("(b - (cum - n_tokens)) div (d - rk + 1)").alias("lvl"),
    )
    valid = F.expr("(rk = 1 OR prev_n <= lvl) AND n_tokens > lvl")
    picked = lv.select(
        "*",
        F.max(F.when(valid, F.col("rk"))).over(wg).alias("p_rk"),
        F.max(F.when(valid, F.col("lvl"))).over(wg).alias("p_lvl"),
        F.max(F.when(valid, F.col("cum") - F.col("n_tokens")))
        .over(wg)
        .alias("p_cum"),
    )
    rem = F.expr("b - p_cum - p_lvl * (d - p_rk + 1)")
    alloc = (
        F.when(F.col("p_rk").isNull(), F.col("n_tokens"))  # B >= total
        .when(F.col("rk") < F.col("p_rk"), F.col("n_tokens"))
        .otherwise(
            F.col("p_lvl")
            + F.when(F.col("rk") - F.col("p_rk") < rem, 1).otherwise(0)
        )
    )
    return picked.select(
        "source", "n_tokens", alloc.cast("long").alias("alloc_tokens")
    )


_DUCK_MIX_CTES = f"""s AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    o AS (
      SELECT source, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rk,
             SUM(n_tokens) OVER (ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             LAG(n_tokens) OVER (ORDER BY n_tokens, source) AS prev_n,
             SUM(n_tokens) OVER () AS total,
             COUNT(*) OVER () AS d
      FROM s
    ),
    lv AS (
      SELECT *,
             (total * {_MIX_NUM} // {_MIX_DEN}) AS b,
             ((total * {_MIX_NUM} // {_MIX_DEN}) - (cum - n_tokens))
               // (d - rk + 1) AS lvl
      FROM o
    ),
    picked AS (
      SELECT *,
        MAX(CASE WHEN (rk = 1 OR prev_n <= lvl) AND n_tokens > lvl
                 THEN rk END) OVER () AS p_rk,
        MAX(CASE WHEN (rk = 1 OR prev_n <= lvl) AND n_tokens > lvl
                 THEN lvl END) OVER () AS p_lvl,
        MAX(CASE WHEN (rk = 1 OR prev_n <= lvl) AND n_tokens > lvl
                 THEN cum - n_tokens END) OVER () AS p_cum
      FROM lv
    ),
    alloc AS (
      SELECT source, n_tokens,
        CAST(CASE WHEN p_rk IS NULL THEN n_tokens
                  WHEN rk < p_rk THEN n_tokens
                  ELSE p_lvl + (CASE WHEN rk - p_rk <
                         b - p_cum - p_lvl * (d - p_rk + 1)
                       THEN 1 ELSE 0 END)
             END AS BIGINT) AS alloc_tokens
      FROM picked
    )"""

_DUCK_MIX = f"""
    WITH {_DUCK_MIX_CTES}
    SELECT source, n_tokens, alloc_tokens FROM alloc ORDER BY source
"""


@query("q_domain_mix", oracle=_DUCK_MIX)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing token allocation: per-source token counts →
    water-filled allocation against a 60% global token budget. Small
    sources keep everything; large ones are capped at the common
    integer water level, leftovers distributed deterministically.

    Scale shape: one map-side partial-aggregated count per source
    (the only corpus-sized pass), then closed-form window arithmetic
    over the domain table — no iteration, no collect, no join."""
    docs = load_table(spark, sf_dir, "documents")
    domains = (
        docs.select(
            "source",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    return waterfill_alloc(domains).orderBy("source")


# --------------------------------------------------------- domain sample
_SPARK_MIXB = (
    "CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 15), "
    "16, 10) AS BIGINT) % 1000000"
)
_DUCK_MIXB = (
    "CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15) "
    "AS BIGINT) % 1000000"
)


# ------------------------------------------------------ priority sample
_PS_K = 100  # sample size
_PS_DEN = 1152921504606846976.0  # 2^60: 15 md5 hex digits -> u in (0,1]


@query(
    "q_corpus_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, n_chars AS weight,
             CAST('0x' || substr(
               md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 15
             ) AS BIGINT) AS h
      FROM documents
    ),
    q AS (
      SELECT doc_id, weight,
             CAST(weight AS DOUBLE)
               / ((CAST(h AS DOUBLE) + 1) / {_PS_DEN}) AS pri
      FROM w
    ),
    top AS (
      SELECT * FROM q ORDER BY pri DESC, doc_id LIMIT {_PS_K + 1}
    ),
    tau AS (SELECT MIN(pri) AS tau FROM top),
    kept AS (
      SELECT * FROM top ORDER BY pri DESC, doc_id LIMIT {_PS_K}
    )
    SELECT k.doc_id, k.weight,
           CAST(FLOOR(GREATEST(CAST(k.weight AS DOUBLE), t.tau)
                      * 1000000) AS BIGINT) AS est_micro
    FROM kept k, tau t ORDER BY k.doc_id
    """,
)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (Duffield–Lund–Thorup, JACM 2007):
    each document draws priority w/u (u a deterministic md5-derived
    uniform in (0,1], weight = n_chars), the k={_PS_K} largest
    priorities are kept, and tau — the (k+1)-th priority — yields
    the UNBIASED per-item weight estimator max(w, tau): any
    subset-sum over the sample estimates the corpus-wide subset sum
    without bias, which is what makes a {_PS_K}-doc sample usable
    for corpus statistics (token budgets, domain shares) instead of
    only for eyeballing. Distinct from q_sample (uniform Bernoulli),
    q_exact_quota (per-stratum exact counts) and q_domain_sample
    (rate-matched mixture): this one is weight-proportional without
    replacement, with an estimator.

    Engine-independence: u and the priority involve only IEEE-754
    divisions (correctly rounded by spec — unlike ln/pow they are
    bit-identical across the JVM and DuckDB), and ordering ties
    break on doc_id, so the kept set and the floored-micro estimator
    hash-match exactly.

    Shape at 100 TB: priorities are a projection; the top-(k+1) is a
    TakeOrdered (per-partition heaps + one k-sized reduce — never a
    global sort); tau and the kept-k cut are windows over the bounded
    (k+1)-row result.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(_PS_DEN)
    q = docs.select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        (F.col("n_chars").cast("double") / u).alias("pri"),
    )
    top = q.orderBy(F.desc("pri"), "doc_id").limit(_PS_K + 1)
    # tau and the kept-k cut are single-partition windows over the
    # (k+1)-row TakeOrdered result — one reference, nothing cached (a
    # persist here leaked a cached DataFrame per invocation) and no
    # crossJoin; the single partition is bounded by k, so it is the
    # point, not a scale hazard
    w_rank = Window.orderBy(F.desc("pri"), "doc_id")
    kept = top.select(
        "doc_id",
        "weight",
        F.row_number().over(w_rank).alias("rn"),
        F.min("pri").over(Window.partitionBy()).alias("tau"),
    ).filter(F.col("rn") <= _PS_K)
    return (
        kept
        .select(
            "doc_id",
            "weight",
            F.floor(
                F.greatest(F.col("weight").cast("double"), F.col("tau"))
                * 1000000
            )
            .cast("long")
            .alias("est_micro"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_domain_sample",
    oracle=f"""
    WITH {_DUCK_MIX_CTES}
    SELECT d.doc_id, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_doc_tokens
    FROM documents d JOIN alloc a ON d.source = a.source
    WHERE CAST(({_DUCK_MIXB}) AS DECIMAL(38,0)) * a.n_tokens
        < CAST(a.alloc_tokens AS DECIMAL(38,0)) * 1000000
    ORDER BY d.doc_id
    """,
)
def q_domain_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The water-filled mixture MATERIALIZED: per-source Bernoulli
    rate alloc/n via a salted md5 bucket, compared by integer
    cross-multiplication (bucket * n < alloc * 10^6 — no float rate);
    the products run in DECIMAL(38,0) because bucket * n_tokens wraps
    int64 once a source passes ~9.2e12 tokens — inside the 100 TB
    envelope.
    Fully-funded sources keep every document; capped ones sample at
    their water-level rate. Membership is a pure projection off the
    broadcast domain table — recomputable by any job, no stored
    sample, the same contract as q_sample/q_datasplit.

    Scale shape: the domain/alloc table is one row per source and
    broadcast; the corpus-side pass is a map-side filter — the only
    shuffle is q_domain_mix's tiny per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    domains = (
        docs.select(
            "source",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    alloc = waterfill_alloc(domains)
    return (
        docs.join(F.broadcast(alloc), "source")
        .filter(
            F.expr(_SPARK_MIXB).cast("decimal(38,0)") * F.col("n_tokens")
            < F.col("alloc_tokens").cast("decimal(38,0)") * F.lit(1000000)
        )
        .select(
            "doc_id",
            "source",
            F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias(
                "n_doc_tokens"
            ),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------ dsir
#
# DSIR-style importance ranking: hash every word into one of 64
# buckets; estimate target (lang = 'en') and raw unigram bucket
# distributions with +1 smoothing; score each document by
# sum_f cnt_doc(f) * llr2(f) where llr2 is the *integer* floor-log2
# likelihood ratio, evaluated term by term:
#     llr2(f) = (ilog2(cnt_t(f)) + ilog2(S_r))
#             - (ilog2(cnt_r(f)) + ilog2(S_t)),
#     ilog2(x) = length(bin(x)) - 1.
# Per-term logs never overflow — every bin() argument is at most the
# corpus word count, where the cross-multiplied form cnt*S would wrap
# int64 at ~3e9 words (W² > 2^63). The cost is one extra bit of
# slack: ilog2(a) + ilog2(b) is within 1 below ilog2(a*b), so llr2
# sits within ±2 bits of the float log2 ratio — still exactly the
# fidelity DSIR resampling needs, with none of the float
# nondeterminism (engine-exact where a float log's last ulp could
# flip a ranking).

_DSIR_BUCKETS = 64
_DSIR_TOP = 30

_SPARK_WB = (
    f"CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT) % {_DSIR_BUCKETS}"
)
_DUCK_WB = (
    f"CAST('0x' || substr(md5(w), 1, 4) AS BIGINT) % {_DSIR_BUCKETS}"
)


@query(
    "q_dsir",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents
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
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id LIMIT {_DSIR_TOP}
    """,
)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance ranking: top-30 documents by hashed-
    unigram log-likelihood ratio against the target distribution
    (lang = 'en'), in integer floor-log2 arithmetic (module header).

    Scale shape: one pass over the exploded words — the (doc, bucket)
    partial aggregate absorbs the explosion map-side; the 64-row
    bucket/llr tables derive from it and broadcast back; the doc
    score is a second (64-rows-per-doc) aggregate shuffle; the final
    top-30 is a TakeOrderedAndProject (no global sort). The per-term
    ilog2 sum is within ±2 bits of the float log2 ratio and
    overflow-free at any corpus size (module comment) — exactly the
    fidelity DSIR needs for resampling, none of the float
    nondeterminism."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_scores(docs).orderBy(F.desc("score"), "doc_id").limit(
        _DSIR_TOP
    )


def dsir_scores(docs: DataFrame) -> DataFrame:
    """DSIR importance scores (doc_id, score) for every document of
    `docs` (needs doc_id, lang, text) — the reusable core of q_dsir
    (scale shape and integer-log discipline in its docstring), also
    composed by q_curate2's importance gate."""
    words = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")
    # NOT persisted (r14: tried, measured WORSE — q_dsir +0.4s,
    # q_curate2 +1.5s across interleaved A/B sessions): docf feeds
    # the broadcast llr model AND the final score join, and the
    # static plan duplicates its upstream, but at runtime the
    # duplicate is cheap next to the cache's fill barrier +
    # serialization — the q_dup_spans lesson. Plan-level dedup of
    # broadcast-fed subtrees only pays when the subtree is a real
    # second execution of EXPENSIVE work (see _winnow_prints).
    docf = (
        words.select("doc_id", "lang", F.expr(_SPARK_WB).alias("f"))
        .groupBy("doc_id", "f")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias(
                "c_en"
            ),
        )
    )
    buckets = docf.groupBy("f").agg(
        (F.sum("c") + 1).alias("cr"), (F.sum("c_en") + 1).alias("ct")
    )
    wg = Window.partitionBy()  # <= 64-row frame
    llr = buckets.select(
        "f",
        "cr",
        "ct",
        F.sum("cr").over(wg).alias("sr"),
        F.sum("ct").over(wg).alias("st"),
    ).select(
        "f",
        F.expr(
            "CAST(length(bin(ct)) + length(bin(sr)) "
            "- length(bin(cr)) - length(bin(st)) AS BIGINT)"
        ).alias("w2"),
    )
    return (
        docf.join(F.broadcast(llr), "f")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w2")).alias("score"))
    )


# ------------------------------------------------------------- bpe pairs
_BPE_TOP = 20


@query(
    "q_bpe_pairs",
    oracle=f"""
    WITH vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE len(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> substr(w, i, 2))) AS pair,
             cnt
      FROM vocab
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_merge
    FROM pairs GROUP BY pair
    ORDER BY n_merge DESC, pair LIMIT {_BPE_TOP}
    """,
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's first merge step: corpus-weighted adjacent
    character-pair frequencies, top-20 merge candidates. The classic
    formulation (Sennrich et al. 2016) iterates this count after each
    merge; one round is the declared, oracle-checkable unit — the
    loop re-runs the same plan on the re-segmented vocab.

    Scale shape: the word-frequency aggregate collapses the corpus to
    its vocabulary BEFORE the character explosion (pair rows scale
    with |vocab| * word length, not corpus tokens); both aggregates
    partial map-side; top-20 is a TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2))"
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_merge"))
        .orderBy(F.desc("n_merge"), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------- doc lm
#
# CCNet-style n-gram LM quality scoring: train an add-one-smoothed
# bigram model ON the corpus, score every document by its average
# negative log-likelihood, report the cleanest (lowest-perplexity)
# documents — the head bucket a CCNet pipeline keeps. The same
# integer floor-log2 as q_dsir keeps the score engine-exact:
#   nll(a b) = ilog2(c1(a) + V) - ilog2(c2(a,b) + 1)
# in whole bits, summed per document and scaled to milli-bits per
# bigram with integer division.

_LM_TOP = 30


@query(
    "q_doc_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i + 1])) AS b
      FROM toks
    ),
    docbg AS (
      SELECT doc_id, b, split_part(b, ' ', 1) AS a,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY doc_id, b
    ),
    c2 AS (SELECT b, SUM(c) AS c2 FROM docbg GROUP BY b),
    c1 AS (SELECT a, SUM(c) AS c1 FROM docbg GROUP BY a),
    v AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
             CAST(SUM(d.c * (length(bin(c1.c1 + v.v))
                             - length(bin(c2.c2 + 1)))) AS BIGINT) AS nll
      FROM docbg d JOIN c2 USING (b) JOIN c1 USING (a) CROSS JOIN v
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams, nll * 1000 // n_bigrams AS nll_milli
    FROM scored ORDER BY nll_milli, doc_id LIMIT {_LM_TOP}
    """,
)
def q_doc_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring (module comment): train on the
    corpus, score every document by average negative log2-likelihood
    in integer milli-bits, keep the 30 cleanest documents.

    Scale shape: bigrams partial-aggregate to (doc, bigram) rows
    map-side; the LM tables are equi-joined on their own keys (bigram,
    context) — at 100 TB they'd be vocabulary-pruned to top-k terms,
    which only drops smoothing mass; the vocab size V is the one
    one-row broadcast global (allowlisted); top-30 is a
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("t")
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("b"),
    )
    # Key representation: bigram and context fold to xxhash64 BIGINTs
    # before the aggregation, so every shuffle and LM-table join
    # compares 8-byte integers instead of ~13-byte bigram strings —
    # the same discipline (and the same modulo-2^-64-collision
    # epistemic status) as blocked_jaccard_pairs' shingle fold. The
    # DuckDB oracle keys raw strings, so the equivalence stays
    # hash-checked on real data every round.
    docbg = (
        bg.select(
            "doc_id",
            F.xxhash64("b").alias("b"),
            F.xxhash64(F.split_part("b", F.lit(" "), F.lit(1))).alias("a"),
        )
        .groupBy("doc_id", "b", "a")
        .agg(F.count("*").alias("c"))
    )
    c2 = docbg.groupBy("b").agg(F.sum("c").alias("c2"))
    c1 = docbg.groupBy("a").agg(F.sum("c").alias("c1"))
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        docbg.join(c2, "b")
        .join(c1, "a")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(
                F.col("c")
                * (
                    F.length(F.expr("bin(c1 + v)"))
                    - F.length(F.expr("bin(c2 + 1)"))
                )
            ).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.expr("nll * 1000 div n_bigrams").alias("nll_milli"),
    ).orderBy("nll_milli", "doc_id").limit(_LM_TOP)


# ------------------------------------------------------------- bpe train
#
# Iterative BPE training (Sennrich et al. 2016), three merge rounds:
# the q_bpe_pairs count re-run after APPLYING each round's winning
# merge — the engine's third iterative declared algorithm (with CC
# and PageRank), oracle-checked by unrolling the rounds as chained
# CTEs. The winning pair merges leftmost-greedily; self-pairs
# (p1 = p2) are excluded from candidacy so a merge's occurrences are
# provably non-overlapping and its application stays a position-local
# array expression (a run "aaa" would make position i's re-segmenting
# depend on position i-1's — the one case that needs a sequential
# fold). Tie-break: (count desc, p1, p2) — deterministic.
_BPE_ROUNDS = 3

_SPARK_MERGE_APPLY = """
  filter(transform(sequence(1, size(s)), i -> CASE
    WHEN i > 1 AND try_element_at(s, i-1) = p1 AND element_at(s, i) = p2
      THEN NULL
    WHEN element_at(s, i) = p1 AND try_element_at(s, i+1) = p2
      THEN concat(p1, p2)
    ELSE element_at(s, i) END), x -> x IS NOT NULL)
"""


def _duck_bpe_round(v_in: str, r: int) -> str:
    """One unrolled oracle round: pair counts over v_in, winner t{r},
    merged vocab v{r}."""
    return f"""
    pr{r} AS (
      SELECT s[i] AS p1, s[i + 1] AS p2, cnt
      FROM {v_in}, unnest(range(1, len(s))) u(i)
    ),
    t{r} AS (
      SELECT p1, p2, CAST(SUM(cnt) AS BIGINT) AS n_merge
      FROM pr{r} WHERE p1 <> p2
      GROUP BY p1, p2 ORDER BY n_merge DESC, p1, p2 LIMIT 1
    ),
    v{r} AS (
      SELECT w, cnt,
        list_filter(
          list_transform(range(1, len(s) + 1), i -> CASE
            WHEN i > 1 AND s[i - 1] = t{r}.p1 AND s[i] = t{r}.p2 THEN NULL
            WHEN s[i] = t{r}.p1 AND i < len(s) AND s[i + 1] = t{r}.p2
              THEN t{r}.p1 || t{r}.p2
            ELSE s[i] END),
          x -> x IS NOT NULL) AS s
      FROM {v_in}, t{r}
    )"""


@query(
    "q_bpe_train",
    oracle=f"""
    WITH v0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS s
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2 GROUP BY w
    ),
    {",".join(_duck_bpe_round(f"v{r - 1}", r) for r in range(1, _BPE_ROUNDS + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT {r} AS round, p1, p2, n_merge FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
      )}
    ) ORDER BY round
    """,
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE merge rounds over the corpus vocabulary (module
    comment): each round counts corpus-weighted adjacent symbol pairs,
    picks the winner, and re-segments the vocab by applying the merge
    as a position-local array expression — the winner rides a ONE-ROW
    broadcast into the next round's lambda, so the loop is fully
    declarative (no collect; the same scalar-feedback shape as the CC
    checksum). Output: (round, p1, p2, n_merge).

    Scale shape: per round, the corpus-sized work is one partial-
    aggregated pair count over the VOCAB (already collapsed from the
    corpus, as q_bpe_pairs); the re-segmentation is map-side. Rounds
    are sequential by nature (each merge changes the next counts) —
    exactly the iterative discipline of the CC/PageRank loops."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    v = vocab.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("s"),
    )
    tops, _v = _bpe_rounds(v, _BPE_ROUNDS, apply_last=False)
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), tops).orderBy("round")


def _bpe_rounds(v, rounds: int, apply_last: bool):
    """Run `rounds` BPE merge rounds over a segmented vocab
    (w, cnt, s). Returns ([per-round winner DF], final vocab) —
    the trainer reports the winners, the encoder wants the vocab
    after every merge is applied.

    Each round reads v twice (pair count AND re-segmentation), so an
    unpersisted loop recomputes the corpus-collapsing vocab aggregate
    2^rounds times through the lineage; persisting the vocab-sized
    frame per round pins that to once per round (measured 4.5s →
    ~1.5s for q_bpe_encode at sf0.1)."""
    from pyspark import StorageLevel

    tops = []
    v = scope().persist(v, StorageLevel.MEMORY_AND_DISK)
    for r in range(1, rounds + 1):
        pairs = (
            v.filter(F.expr("size(s) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(s) - 1), i -> "
                        "struct(element_at(s, i) AS p1, "
                        "element_at(s, i + 1) AS p2))"
                    )
                ).alias("p"),
                "cnt",
            )
            .select("p.p1", "p.p2", "cnt")
        )
        top = (
            pairs.filter(F.col("p1") != F.col("p2"))
            .groupBy("p1", "p2")
            .agg(F.sum("cnt").alias("n_merge"))
            .orderBy(F.desc("n_merge"), "p1", "p2")
            .limit(1)
        )
        tops.append(top.select(F.lit(r).alias("round"), "p1", "p2", "n_merge"))
        if r < rounds or apply_last:
            v = scope().persist(
                v.crossJoin(F.broadcast(top.select("p1", "p2"))).select(
                    "w", "cnt", F.expr(_SPARK_MERGE_APPLY).alias("s")
                ),
                StorageLevel.MEMORY_AND_DISK,
            )
    return tops, v


@query(
    "q_bpe_encode",
    oracle=f"""
    WITH v0 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS s
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 1 GROUP BY w
    ),
    {",".join(_duck_bpe_round(f"v{r - 1}", r) for r in range(1, _BPE_ROUNDS + 1))}
    SELECT tok, n_tokens FROM (
      SELECT tok, CAST(SUM(cnt) AS BIGINT) AS n_tokens
      FROM (SELECT unnest(s) AS tok, cnt FROM v{_BPE_ROUNDS})
      GROUP BY tok
    ) ORDER BY n_tokens DESC, tok LIMIT 30
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges: re-run the
    q_bpe_train rounds (winners are identical — 1-char words
    contribute no pairs, so including them changes nothing) but APPLY
    all three merges, then read token frequencies straight off the
    segmented vocabulary. Output: top-30 (tok, n_tokens).

    This is the apply-side of the tokenizer: encoding is a
    vocab-table lookup (the corpus collapses to its vocabulary
    first), so the per-round cost is vocab-sized, and corpus-sized
    work is the single word-count aggregate — the exact shape a
    100 TB tokenization pass wants (the merged vocab is the broadcast
    dictionary a mapInPandas encoder would consume; counting tokens
    needs no per-document work at all)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    v = vocab.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("s"),
    )
    _tops, v = _bpe_rounds(v, _BPE_ROUNDS, apply_last=True)
    return (
        v.select(F.explode("s").alias("tok"), "cnt")
        .groupBy("tok")
        .agg(F.sum("cnt").cast("long").alias("n_tokens"))
        .orderBy(F.desc("n_tokens"), "tok")
        .limit(30)
    )
