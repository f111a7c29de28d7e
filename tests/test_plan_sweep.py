"""Blanket scale-killer sweep: no registry query may plan a cartesian
or nested-loop join unless its name is allowlisted here with a reason.

The targeted plan-shape tests (test_plans.py) pin specific contracts;
this sweep is the backstop that catches a NEW query (or a regression
in an old one) accidentally introducing the O(n²) join shapes —
Catalyst falls back to BroadcastNestedLoopJoin silently whenever a
join loses its equi-key, and nothing else in CI would notice until a
bench regression at scale.
"""

import pytest

from core_spark.plans.registry import REGISTRY
from tests.conftest import SF_SMOKE

# Queries whose nested-loop/cross shapes are deliberate. Every entry
# must state why the shape is scale-safe (or explicitly not the scale
# path).
ALLOWED = {
    "q_bm25": "corpus stats (S, N) are a broadcast ONE-ROW global",
    "q_doc_tfidf": "doc-count scalar is a broadcast ONE-ROW global",
    "q_h11": "TPC-H Q11 global threshold: broadcast one-row aggregate",
    "q_h22": "TPC-H Q22 global avg balance: broadcast one-row aggregate",
    "q_knn_cosine": "brute-force baseline, labeled NOT the scale path "
                    "(verification tier for the ANN operators)",
    "q_ann_recall": "recall audit: brute side runs over the 10-query "
                    "SAMPLE x corpus (the verification tier), the LSH "
                    "side is bucket-keyed",
    "q_ann_ndcg": "nDCG audit: same brute 10-query SAMPLE x corpus "
                   "verification tier as q_ann_recall; the LSH side "
                   "is bucket-keyed and the DCG join is equi-keyed",
    "q_ann_mrl": "truncation audit: full-width and per-width "
                    "truncated sides are all the brute 10-query "
                    "SAMPLE x corpus verification tier; the width "
                    "grid is a TWO-ROW broadcast",
    "q_ann_bq": "binary-quantization scan: the BROADCAST side is the "
                "constant 10-row query sample, streamed against the "
                "8-byte code table (codes never broadcast — ~80 GB at "
                "10^10 vectors), with map-side partial top-k; exact "
                "rerank broadcasts the 200-row shortlist against the "
                "streamed corpus, never corpus x corpus",
    "q_ann_ivf": "centroid argmax: each vector x broadcast n_cells "
                 "centroid rows IS the assignment work, map-side",
    "q_embed_semdedup": "same centroid argmax as q_ann_ivf (shared "
                        "ivf_assign): vector x broadcast n_cells rows, "
                        "map-side",
    "q_ann_hard_negatives": "same centroid argmax as q_ann_ivf (shared "
                        "ivf_assign); the candidate join itself is "
                        "cell-keyed",
    "q_doc_lm": "vocab size V is a broadcast ONE-ROW global",
    "q_bayes_quality": "class totals (tot1, tot0, V) and priors (n1, n0) "
                    "are two broadcast ONE-ROW globals over the "
                    "token-count table",
    "q_ann_pq": "ADC tables: 5 query subvectors x broadcast "
                "4-codeword codebooks (constant rows) — the lookup "
                "tables that REPLACE full-width distance math",
    "q_ann_pq_recall": "inherits q_ann_pq's ADC-table broadcasts; the "
                   "exact side is the 5-query SAMPLE x corpus "
                   "verification tier (q_ann_recall's convention), "
                   "NOT the scale path",
    "q_curate2": "inherits q_embed_semdedup's centroid argmax "
                 "(vector x broadcast n_cells rows, map-side)",
    "q_bpe_train": "each round's winning merge rides a ONE-ROW "
                   "broadcast into the next round's lambda",
    "q_bpe_encode": "same ONE-ROW winner broadcast as q_bpe_train "
                    "(shared _bpe_rounds loop)",
    "q_fusion_rank": "inherits q_bm25's (S, N) one-row global; the "
                     "query embedding is a ONE-ROW broadcast over the "
                     "corpus scan",
    "q_cluster_kmeans": "Lloyd assignment: each vector x broadcast k centroid "
                "rows IS the argmin work, map-side (k is a constant); "
                "same shape as q_ann_ivf's ivf_assign",
    "q_ann_ivf_kmeans": "inherits q_cluster_kmeans' broadcast-k argmin for index "
                    "build and query probes; the search join itself "
                    "is cell-keyed",
    "q_domain_temp_mix": "the weight denominator is a broadcast ONE-ROW "
                  "global over the rows-per-source weight table",
    "q_corpus_overlap": "source<source pair join runs on ONE k-array "
                        "sketch row per source — S² sketch pairs, "
                        "corpus-size-independent",
    "q_curriculum_order": "the epoch fan-out is a TWO-ROW broadcast "
                     "(constant epoch count) over the doc-id scan",
}

# Building these executes real streaming jobs / journal writes /
# store materializations — their plan shapes are pinned individually
# where it matters, and the DataFrame they return is a local
# serve-side relation whose plan the sweep would learn nothing from.
EXECUTING = {n for n in REGISTRY if "stream" in n or "serve" in n} | {
    "q_journal_roundtrip",
    "q_framed_journal",
    "q_frag",
    "q_bike_cycles",  # SQL-store materialize -> serve runs at build
    "q_bfs_frontier",  # frontier shard run + journal serve at build
}

SWEEP = sorted(n for n in REGISTRY if n not in EXECUTING)

# Per-document kernels that keep their own batch loop over
# zip(pdf["doc_id"], ...) instead of columns.doc_kernel, keyed by
# (module, top-level def) across plans/, multimodal/ and examples/.
# Every entry must state why.
HAND_ROLLED = {
    ("llmops", "q_dup_spans"): "numpy column kernel: builds int64 "
                               "arrays per batch, not row tuples",
    ("llmops", "q_chunk_cdc"): "numpy column kernel: builds int64 "
                               "arrays per batch, not row tuples",
    ("llmops", "_winnow_prints"): "numpy column kernel: builds int64 "
                                  "arrays per batch, not row tuples",
}


@pytest.mark.parametrize("name", SWEEP)
def test_no_accidental_cartesian_or_nested_loop(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    hits = [
        k
        for k in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join Cross")
        if k in plan
    ]
    if name in ALLOWED:
        return  # deliberate; reason documented above
    assert not hits, (
        f"{name} plans {hits} — an O(n^2) join shape. Either restore "
        "the equi-key (bucketize: see operators/rangejoin.py) or "
        "allowlist it here with a scale-safety justification."
    )


def test_allowlist_entries_still_needed(spark):
    """Prune the allowlist when a query stops needing it — stale
    exemptions hide future regressions."""
    for name in sorted(ALLOWED):
        df = REGISTRY[name].fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "extended"
            )
        )
        assert any(
            k in plan
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin", "Join Cross")
        ), f"{name} no longer plans a nested loop — remove it from ALLOWED"


def test_storage_backed_serves_page_never_bulk_collect():
    """Serve-tier invariant (uniform as of r11): every storage-backed
    serve drains through serve_pages / SQLStore.query_pages — the
    ONLY .collect() in the serve module is the one inside
    serve_pages' own LIMIT-page request, so no serve request
    materializes more than one page."""
    import pathlib

    import core_spark.plans.queryable_state as qs

    src = pathlib.Path(qs.__file__).read_text().splitlines()
    hits = [
        (i + 1, ln.strip())
        for i, ln in enumerate(src)
        if ".collect()" in ln
    ]
    assert len(hits) == 1 and "page.limit(page_size)" in hits[0][1], (
        "storage-backed serve collects outside serve_pages: "
        f"{hits}"
    )

    import ast

    import core_spark.streaming.store_sql as ss

    tree = ast.parse(pathlib.Path(ss.__file__).read_text())
    sql_literals = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "SELECT" in n.value.upper()
    ]
    assert sql_literals, "expected SQL statements in the store"
    bad = [s for s in sql_literals if "OFFSET" in s.upper()]
    assert not bad, (
        f"the SQL store must keyset-paginate, never OFFSET: {bad}"
    )


def test_per_document_kernels_use_doc_kernel():
    """One way to write a per-document kernel: no module under plans/,
    multimodal/ or examples/ loops over zip(pdf["doc_id"], ...) — in a
    for statement or a comprehension — except doc_kernel itself and the
    HAND_ROLLED entries, every HAND_ROLLED entry still does, only
    payload_kernel slices frames with _payload_frames, and no per_doc
    handed to doc_kernel (nor build handed to payload_kernel) imports
    anything (imports belong in the operator function, once per plan,
    not once per document)."""
    import ast
    import pathlib

    import core_spark

    def is_doc_id_zip(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "zip"
            and node.args
            and isinstance(node.args[0], ast.Subscript)
            and isinstance(node.args[0].slice, ast.Constant)
            and node.args[0].slice.value == "doc_id"
        )

    pkg = pathlib.Path(core_spark.__file__).parent
    paths = [
        p
        for sub in ("plans", "multimodal", "examples")
        for p in sorted((pkg / sub).glob("*.py"))
    ]
    helpers = {("columns", "doc_kernel")}
    found, framing, importing = set(), [], []
    for path in paths:
        mod, tree = path.stem, ast.parse(path.read_text())
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            for n in ast.walk(top):
                if isinstance(n, (ast.For, ast.comprehension)) and (
                    is_doc_id_zip(n.iter)
                ):
                    found.add((mod, top.name))
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Name)
                    and n.func.id == "_payload_frames"
                    and top.name != "payload_kernel"
                ):
                    framing.append((mod, top.name))
            per_doc = {
                c.args[1].id
                for c in ast.walk(top)
                if isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id in ("doc_kernel", "payload_kernel")
                and len(c.args) > 1
                and isinstance(c.args[1], ast.Name)
            }
            for f in ast.walk(top):
                if isinstance(f, ast.FunctionDef) and f.name in per_doc:
                    if any(
                        isinstance(i, (ast.Import, ast.ImportFrom))
                        for i in ast.walk(f)
                    ):
                        importing.append((mod, top.name, f.name))
    found -= helpers
    new = sorted(found - HAND_ROLLED.keys())
    stale = sorted(HAND_ROLLED.keys() - found)
    assert not new, (
        f"hand-rolled per-document loops {new}: write them as "
        "per_doc(doc_id, value) generators through columns.doc_kernel "
        "(payload builders through columns.payload_kernel), or "
        "allowlist them in HAND_ROLLED with a reason"
    )
    assert not stale, f"{stale} no longer hand-roll a loop — drop them"
    assert not framing, (
        f"{framing} slice payload frames by hand: build payloads "
        "through columns.payload_kernel"
    )
    assert not importing, f"per_doc bodies import per document: {importing}"


# Top-level core_spark defs that only tests/ reference, each with why
# it stays in the engine package for now. Keys are module paths under
# core_spark, dotted, then the def's name.
TEST_ONLY = {
    "catalog.WatchedList": "selector watch; its one engine caller, "
                           "streaming.routed.RoutedPublisher, is test-only",
    "examples.bike_share.bike_history": "public API example entry point",
    "examples.bike_share.detect_cycles": "public API example entry point",
    "examples.bike_share.ingest_rides": "public API example entry point",
    "examples.bike_share.recent_rides": "public API example entry point",
    "examples.crawl_pipeline.plan_crawl": "public API example entry point",
    "examples.curation_stream.clean_read": "public API example entry point",
    "examples.curation_stream.corpus_stats": "public API example entry point",
    "examples.curation_stream.run_curation": "public API example entry point",
    "examples.media_pipeline.media_read": "public API example entry point",
    "examples.media_pipeline.media_stats": "public API example entry point",
    "examples.media_pipeline.run_media_curation": "public API example "
                                                  "entry point",
    "examples.stream_sum.run_and_verify": "public API example entry point",
    "examples.word_count.query_prefix": "public API example entry point",
    "examples.word_count.run_word_count": "public API example entry point",
    "functions.avro.record_path": "dotted-path accessor over decoded "
                                  "records; no query reads by path",
    "functions.descriptors.descriptor_set_to_spec": "its one engine caller, "
        "framing.fixed_framing_from_descriptor, is test-only",
    "functions.framing.fixed_framing_from_descriptor": "engine API no "
        "query or sink calls; keep it or delete it with its caller",
    "functions.gzipfile.gzip_members": "inflating member walk, the "
        "verification tier the split planner is tested against",
    "functions.latex._expected_latex": "expected-value oracle for tests",
    "functions.markdown._expected_md": "expected-value oracle for tests",
    "functions.notebook._expected_cells": "expected-value oracle for tests",
    "functions.orcfile.orc_rowgroup_prune": "ORC row-group verdicts no "
                                            "query consults",
    "functions.orcfile.read_orc_map_column": "MAP column reader no query "
                                             "calls",
    "functions.parquetfile.parquet_verify_chunk_stats": "chunk-statistics "
        "cross-check, a test oracle",
    "functions.parquetfile.read_parquet_map_column": "MAP column reader no "
                                                     "query calls",
    "functions.parquetfile.read_parquet_struct_list": "nested column reader "
                                                      "no query calls",
    "functions.protowire.encode_ngram_count": "test-side fixture encoder",
    "functions.rtf._expected_text": "expected-value oracle for tests",
    "multimodal.columns.audio_frame_features": "audio feature column no "
                                               "query calls",
    "multimodal.docx._expected_blocks": "expected-value oracle for tests",
    "multimodal.gif.gif_encode_anim": "fixture encoder for the decoder "
                                      "tests",
    "multimodal.jpeg._quantized_coeffs": "coefficient oracle for the "
                                         "decoder tests",
    "multimodal.jpeg.jpeg_encode_progressive": "fixture encoder for the "
                                               "decoder tests",
    "multimodal.mp4.fmp4_duration_ms": "only examples.media_pipeline "
                                       "calls it",
    "multimodal.odt._expected_paragraphs": "expected-value oracle for tests",
    "multimodal.pdf.pdf_meta": "only examples.media_pipeline calls it",
    "multimodal.wav._write_extended": "fixture encoder helper (build_aiff)",
    "multimodal.wav.aiff_decode": "only audio_frame_features and "
                                  "examples.media_pipeline call it",
    "multimodal.wav.alaw_encode": "fixture encoder for the decoder tests",
    "multimodal.wav.build_aiff": "fixture encoder for the decoder tests",
    "multimodal.wav.ima_adpcm_encode": "fixture encoder for the decoder "
                                       "tests",
    "multimodal.wav.ms_adpcm_encode": "fixture encoder for the decoder "
                                      "tests",
    "multimodal.wav.ulaw_encode": "fixture encoder for the decoder tests",
    "multimodal.xlsx._expected_cells": "expected-value oracle for tests",
    "operators.skew.salted_join": "skew-join operator no query calls",
    "sources.http_store.HTTPManifestStore": "object-store conditional-PUT "
        "client the store tests run against ObjectStoreServer",
    "sources.http_store.ObjectStoreServer": "in-process HTTP bucket for "
                                            "the store tests",
    "sources.stores.MemoryCASStore": "in-memory conditional-PUT model for "
                                     "the contention tests",
    "streaming.publisher.ack_intents": "transactional publish no query or "
                                       "sink uses",
    "streaming.publisher.publish_uncommitted": "transactional publish no "
                                               "query or sink uses",
    "streaming.routed.RoutedPublisher": "selector-routed publisher no "
                                        "shard or query runs",
}


def test_no_new_test_only_engine_code():
    """No engine code that only tests call: every top-level def in
    core_spark is reachable from engine code, or allowlisted in
    TEST_ONLY, and every TEST_ONLY entry is still test-only.

    Engine code is core_spark's module-level statements (query
    registration decorators included), tools/, perfbench/ (not its
    tests), bench.py and __spark_entry__.py, and the bodies of the
    defs they reach. A name counts as referenced where it is loaded
    or read as an attribute, matched by name alone, so a collision
    can only hide a test-only def, never flag a live one. A def only
    a test-only def calls is test-only too."""
    import ast
    import pathlib

    import core_spark

    def refs(node):
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                # an alias hides the imported name from the loads
                out.update(a.name for a in n.names if a.asname)
        return out

    pkg = pathlib.Path(core_spark.__file__).parent
    repo = pkg.parent
    defs, body, roots = {}, {}, set()
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        for top in ast.parse(path.read_text()).body:
            if not isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                roots |= refs(top)
                continue
            key = f"{mod}.{top.name}"
            defs[key] = top.name
            body[key] = refs(top) - {top.name}
            if any(
                isinstance(d, ast.Call) and getattr(d.func, "id", "") == "query"
                for d in top.decorator_list
            ):
                roots.add(top.name)  # registered in REGISTRY
    engine = [
        *(repo / "tools").rglob("*.py"),
        *(p for p in (repo / "perfbench").rglob("*.py") if "tests" not in p.parts),
        repo / "bench.py",
        repo / "__spark_entry__.py",
    ]
    for path in engine:
        roots |= refs(ast.parse(path.read_text()))
    live = {k for k, name in defs.items() if name in roots}
    while True:
        reached = set().union(*(body[k] for k in live))
        new = {k for k, name in defs.items() if k not in live and name in reached}
        if not new:
            break
        live |= new
    tested = set()
    for path in (repo / "tests").rglob("*.py"):
        tested |= refs(ast.parse(path.read_text()))
    test_only = {k for k, name in defs.items() if k not in live and name in tested}

    new = sorted(test_only - TEST_ONLY.keys())
    stale = sorted(TEST_ONLY.keys() - test_only)
    assert not new, (
        f"{new}: only tests reference these — call them from engine code, "
        "move them to tests/, or allowlist them in TEST_ONLY with a reason"
    )
    assert not stale, f"{stale} are no longer test-only — drop them from TEST_ONLY"
