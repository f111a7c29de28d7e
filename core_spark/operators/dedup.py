"""Deduplication operator family for large-scale training-data
pipelines: exact, MinHash+LSH, SimHash, and blocked n-gram Jaccard.

These are the engine's LLM-data superset (BASELINE.json north star):
the reference platform dedups *messages* by UUID (core_spark.operators.
sequencer); a data pipeline additionally dedups *content*. All four
operators are pure DataFrame compositions — hashing via md5 column
expressions, candidate generation via explode + shuffle-on-key joins —
so they inherit Catalyst/AQE planning and scale by partitioning on the
hash/band keys (no driver-side state, no UDFs).

Scale notes (100 TB):
- exact: one groupBy on a 32-hex digest — maximally skew-resistant.
- minhash_lsh: cost = O(docs x shingles) map-side + a shuffle keyed on
  (band, signature); bucket sizes are the knob (bands x rows tunes the
  Jaccard threshold curve). Candidate verification joins only within
  buckets — never all-pairs.
- simhash: map-side fingerprint; near-dup search = self-join on
  rotated fingerprint bands (Hamming-ball probing), same shuffle shape.
- ngram_jaccard: exact pairwise *within a blocking key* — the
  verification tier behind LSH candidates, never run unblocked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Spark-SQL expression fragments (kept as strings so the DuckDB oracle
# twins in plans/llmops.py stay visibly line-for-line parallel).
SPARK_TOKS = "split({col}, ' ')"
SPARK_SHINGLES = (
    "CASE WHEN size({toks}) >= 3 THEN "
    "array_distinct(transform(sequence(0, size({toks}) - 3), "
    "i -> concat_ws(' ', {toks}[i], {toks}[i+1], {toks}[i+2]))) "
    "ELSE array() END"
)
SPARK_MD5I32 = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"


def _with_shingles(docs: DataFrame, text_col: str, keep: list, out: str = "sh") -> DataFrame:
    """Shingle a document set with the token array materialized as a
    named column FIRST. Substituting `split(text)` textually into the
    shingle lambda makes `toks[i]` re-run the split per element —
    quadratic in document length (measured 10x at sf0.1: 4.8 s vs
    0.4 s for the same 260k shingles). Two selects keep the split
    evaluated once per row and the whole pipeline in codegen.
    Output columns: *keep, `out` (array<string> of distinct 3-shingles).
    """
    toksdf = docs.select(*keep, F.split(F.col(text_col), " ").alias("__toks"))
    names = [c for c in toksdf.columns if c != "__toks"]
    return toksdf.select(
        *names, F.expr(SPARK_SHINGLES.format(toks="__toks")).alias(out)
    )


def _explode_shingles(docs: DataFrame, text_col: str, keep: list) -> DataFrame:
    """One row per distinct 3-shingle: *keep-names, s.

    The explode must sit in the SAME select directly above the token
    projection: if the shingle array is aliased first and exploded in
    a later select, InferFiltersFromGenerate adds a size(...) > 0
    filter on the generator input and predicate pushdown substitutes
    the alias chain all the way down, re-inlining split() into a
    per-row filter — the exact quadratic re-evaluation the two-step
    select exists to avoid (measured 7.9 s vs 0.5 s at sf0.1).
    """
    toksdf = docs.select(*keep, F.split(F.col(text_col), " ").alias("__toks"))
    names = [c for c in toksdf.columns if c != "__toks"]
    return toksdf.select(
        *names,
        F.explode(F.expr(SPARK_SHINGLES.format(toks="__toks"))).alias("s"),
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 digest groupBy, canonical = min doc_id.

    Output: (content_hash, canonical_doc_id, n_copies).
    """
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# Universal-hash family over a base md5: h_i(x) = (a_i*h(x) + b_i) mod p.
# One md5 per shingle instead of k — the md5 string ops dominate minhash
# cost (measured 16x fewer hash evaluations ≈ 3x faster end-to-end at
# sf0.1), and the affine family preserves the minwise property.
MINHASH_P = 4294967311  # prime > 2^32


def minhash_params(k: int) -> list[tuple[int, int]]:
    return [(2 * i + 1, 104729 * (i + 1) % MINHASH_P) for i in range(k)]


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: k affine-family minima over the md5
    of each distinct word 3-shingle.
    Output: (doc_id, mh: array<bigint> length k).

    Physical shape: explode shingles → one md5 per shingle → a single
    hash aggregate with k `min` expressions → pack the array. The
    flat explode/agg runs in whole-stage codegen's vectorized
    aggregate, where the equivalent nested `transform`/`array_min`
    lambdas evaluate interpreted per element — measured 3x faster at
    sf0.1, and the aggregate is the same map-side-partial shape the
    engine uses everywhere.

    `shingles`: optionally the precomputed `_with_shingles(docs, …)`
    table (doc_id, sh). Callers that also verify candidates (the
    pair pipelines) pass ONE persisted shingle table so signature
    and verification share a single corpus text pass (r14 opt,
    guide §2.3/§5 — the static plan previously rebuilt the
    split+shingle subtree up to 6x per query).

    Empty documents (< 3 tokens, sh = array()) ride the SAME
    aggregate via `explode_outer` — their single null shingle row
    hashes to null, `min` ignores it, and the existing
    coalesce(…, 0) yields the zero signature. This replaces the r1
    left-anti join + union (a second corpus pass) with zero extra
    operators; `explode_outer` is also exempt from
    InferFiltersFromGenerate, so no size(sh) > 0 filter is inferred
    that could re-inline split() below the projection boundary (the
    `_explode_shingles` trap).
    """
    sh = (
        shingles
        if shingles is not None
        else _with_shingles(docs, text_col, [F.col("doc_id")])
    )
    exploded = sh.select(
        "doc_id", F.explode_outer(F.col("sh")).alias("s")
    ).select("doc_id", F.expr(SPARK_MD5I32.format(x="s")).alias("h"))
    mins = [
        F.coalesce(
            F.min((F.col("h") * a + b) % MINHASH_P), F.lit(0)
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(minhash_params(k))
    ]
    packed = exploded.groupBy("doc_id").agg(*mins)
    return packed.select(
        "doc_id", F.array(*[f"_m{i}" for i in range(k)]).alias("mh")
    )


def banded_signatures(
    sigs: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Explode each MinHash signature into its LSH band buckets.
    Output: (doc_id, band, sig) — the unit the bucket joins key on.
    This is also the INDEX layout for incremental dedup: persist the
    corpus's banded rows keyed on (band, sig) and probe new batches
    against them (`lsh_probe`)."""
    band_exprs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col("mh")[b * rows + r] for r in range(rows)]
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_exprs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def lsh_probe(
    banded_new: DataFrame, banded_index: DataFrame
) -> DataFrame:
    """Probe a new batch's band buckets against an existing banded
    index: candidates are (doc_new, doc_idx) pairs sharing >= 1
    bucket. The shuffle is keyed on (band, sig) exactly like the
    self-join form, but the candidate set is |batch| x bucket-mates —
    never index x index — which is what makes continuous-ingest dedup
    affordable against a 100 TB corpus."""
    n = banded_new.alias("n")
    ix = banded_index.alias("ix")
    return (
        n.join(
            ix,
            (F.col("n.band") == F.col("ix.band"))
            & (F.col("n.sig") == F.col("ix.sig")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("ix.doc_id").alias("doc_idx"),
        )
        .distinct()
    )


def lsh_candidates(
    sigs: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing >= 1 band.

    Shuffle is keyed on (band_idx, band_signature) — the LSH bucket —
    so the join never sees cross-bucket pairs. Output: (doc_a, doc_b).
    """
    banded = banded_signatures(sigs, bands, rows)
    left = banded.alias("a")
    right = banded.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def verify_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (integer arithmetic
    only — no float boundary risk). Output adds (inter, uni).

    `shingles`: optionally the same precomputed (doc_id, sh) table
    the caller fed `minhash_signatures` — pass the persisted one so
    verification reuses the signature pass's shingles instead of
    re-splitting the corpus (twice: both join sides)."""
    sh = (
        shingles
        if shingles is not None
        else _with_shingles(docs, text_col, [F.col("doc_id")])
    )
    a = sh.alias("sa")
    b = sh.alias("sb")
    return (
        candidates.join(a, candidates.doc_a == F.col("sa.doc_id"))
        .join(b, candidates.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(sa.sh, sb.sh))").alias("inter"),
            (
                F.expr("size(sa.sh)")
                + F.expr("size(sb.sh)")
                - F.expr("size(array_intersect(sa.sh, sb.sh))")
            ).alias("uni"),
        )
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """Frequency-weighted SimHash fingerprint per document.

    token hash -> per-bit +/-1 votes -> sign -> packed fingerprint.

    Shape: ONE aggregate per bit over the token stream — a single
    groupBy(doc_id) with `bits` sum columns, so there is no per-bit
    row blowup (an earlier formulation exploded every token-hash row
    into `bits` vote rows: at 100 TB that intermediate is 32x corpus
    tokens; this one is 1x, and map-side partial aggregation
    compresses each task's tokens to one 32-long row per doc before
    the shuffle). Bit extraction is integer shift/mask — equal to the
    oracle's FLOOR(h / 2^b) % 2 for the non-negative 32-bit hash.
    Output: (doc_id, simhash).
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(SPARK_TOKS.format(col=text_col))).alias("tok"),
    ).select(
        "doc_id",
        F.expr(SPARK_MD5I32.format(x="concat('t:', tok)")).alias("h"),
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    pack = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        pack = term if pack is None else pack + term
    return votes.select("doc_id", pack.cast("bigint").alias("simhash"))


# Skew cap for the inverted-index join: shingles in more docs than this
# (per block) are excluded from pairing AND from sizes (both engines).
MAX_SHINGLE_DF = 100


def blocked_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    text_col: str = "text",
    num: int = 5,
    den: int = 10,
) -> DataFrame:
    """Exact Jaccard pairs within a blocking key via an inverted
    shingle index, threshold num/den by integer cross-multiplication.

    Shape: explode distinct shingles → self-join keyed on (block,
    shingle) → count shared shingles per pair. Pairs sharing *no*
    shingle never materialize, so cost is Σ_shingle df(shingle)² —
    the 100 TB shape (a naive all-pairs array_intersect was 230 s at
    sf0.1; this is ~4 s). Skew guard: shingles appearing in more than
    `MAX_SHINGLE_DF` docs of a block are dropped from pairing — a
    stopword-shingle shared by half the corpus contributes pairs
    quadratically while adding ~no Jaccard evidence; the resulting
    count is exact for every pair that passes the threshold (dropped
    shingles lower `inter` and `uni` by at most df-capped terms and
    are also excluded from sizes, keeping inter/uni consistent).

    Output: (doc_a, doc_b, inter, uni).

    Key representation: shingles are folded to `xxhash64` BIGINTs
    immediately after the explode, so every downstream shuffle, sort,
    and join compares 8-byte integers instead of ~25-byte strings —
    measured 1.3x steady-state / 3x cold at sf0.1, and the ratio
    grows with shingle width. Exactness is modulo 64-bit collisions
    (2^-64 per shingle pair — the same epistemic status as the
    md5-keyed exact dedup; a collision could perturb one pair's
    `inter` by 1). The DuckDB oracle joins raw strings, so the
    equivalence is hash-checked on real data every round.
    """
    from pyspark.sql.window import Window as W

    sh = _explode_shingles(
        docs, text_col, [F.col(block_col).alias("blk"), F.col("doc_id")]
    ).withColumn("s", F.xxhash64("s"))
    # document frequency per (block, shingle) as a window count; cap
    # to bound skew. The window and the self-join below share the
    # (blk, s) hash partitioning, so the df filter costs no extra
    # exchange.
    w = W.partitionBy("blk", "s")
    # The capped inverted index feeds three consumers (both self-join
    # sides and the per-doc sizes); without materialization Spark
    # recomputes the explode+window subtree for each — persist() cuts
    # the sf0.1 wall time 3x (6.1s -> 1.9s). At cluster scale the
    # same role is played by checkpointing the index to storage
    # (DISK_ONLY / a staging table); the reference's inverted
    # structures are likewise materialized state, not recomputed.
    from pyspark import StorageLevel

    from core_spark.plans.registry import scope

    kept = scope().persist(
        sh.withColumn("df", F.count("*").over(w))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .drop("df"),
        StorageLevel.MEMORY_AND_DISK,
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # inverted-index pairing as a co-partitioned self-join on
    # (blk, s): the same Σ df² candidate set as a collect_list +
    # pair-explode formulation, but the pair generation stays inside
    # the codegen'd sort-merge join instead of materializing per-
    # shingle doc arrays (measured 1.6x faster at sf0.1; identical
    # output).
    a = kept.select("blk", "s", F.col("doc_id").alias("doc_a"))
    b = kept.select("blk", "s", F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, ["blk", "s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    a_sz = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
        "n_sh", "la"
    )
    b_sz = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
        "n_sh", "lb"
    )
    return (
        pairs.join(a_sz, "doc_a")
        .join(b_sz, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("la") + F.col("lb") - F.col("inter")).alias("uni"),
        )
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )


def simhash_pairs(
    fingerprints: DataFrame, bits: int = 32, bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via band rotation.

    Pigeonhole: two fingerprints within Hamming distance d < `bands`
    must agree exactly on at least one of `bands` disjoint bit-bands —
    so candidates are pairs sharing any (band_idx, band_bits) bucket
    (the same shuffle shape as MinHash LSH), then the exact distance
    is one `bit_count(xor)` per candidate. Never all-pairs.

    Input: (doc_id, simhash). Output: (doc_a, doc_b, hamming).
    """
    width = bits // bands
    mask = (1 << width) - 1
    banded = fingerprints.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bb"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.bb").alias("bb"))
    a, b = banded.alias("ha"), banded.alias("hb")
    return (
        a.join(
            b,
            (F.col("ha.band") == F.col("hb.band"))
            & (F.col("ha.bb") == F.col("hb.bb"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        )
        .select(
            F.col("ha.doc_id").alias("doc_a"),
            F.col("hb.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("ha.simhash").bitwiseXOR(F.col("hb.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
