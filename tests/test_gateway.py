"""HTTP gateway: append via PUT, bounded read via GET with
read-through header, journal listing — the curl-class bridge
(broker/http_gateway/http_gateway.go analog)."""

import json
import urllib.request

import pytest

from core_spark.gateway import JournalGateway
from core_spark.sources.journal import Journal
from tests.conftest import spark_jobs


@pytest.fixture()
def gw(spark, tmp_path):
    g = JournalGateway(spark, str(tmp_path / "journals"))
    host, port = g.start()
    yield g, f"http://{host}:{port}"
    g.stop()


def _put(base, name, body: str):
    req = urllib.request.Request(
        f"{base}/jnl/{name}", data=body.encode(), method="PUT"
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _get(base, path):
    with urllib.request.urlopen(f"{base}{path}") as resp:
        return resp.read().decode(), dict(resp.headers), resp.status


def test_put_then_get_roundtrip(gw, spark):
    g, base = gw
    r1 = _put(base, "api/events", "\n".join(
        json.dumps({"k": i, "v": f"row-{i}"}) for i in range(10)
    ))
    assert (r1["begin"], r1["end"], r1["n_records"]) == (0, 10, 10)
    r2 = _put(base, "api/events", json.dumps({"k": 99, "v": "late"}))
    assert (r2["begin"], r2["end"]) == (10, 11)

    body, headers, status = _get(base, "/jnl/api/events?begin=5&end=11")
    assert status == 200  # full range, not a page
    rows = [json.loads(ln) for ln in body.splitlines()]
    assert [r["k"] for r in rows] == [5, 6, 7, 8, 9, 99]
    assert headers["X-Journal-Next-Offset"] == "11"

    # the gateway wrote real fragments: the engine API reads them too
    j = Journal(g.root, "api/events")
    assert j.read(spark).count() == 11


def test_read_past_end_is_416(gw):
    _, base = gw
    _put(base, "api/empty-range", json.dumps({"a": 1}))
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/jnl/api/empty-range?begin=100&end=200")
    assert ei.value.code == 416


def test_list_journals(gw):
    _, base = gw
    _put(base, "apps/a", json.dumps({"x": 1}))
    _put(base, "apps/b", json.dumps({"x": 2}))
    body, _, _ = _get(base, "/journals")
    names = [j["name"] for j in json.loads(body)]
    assert names == ["apps/a", "apps/b"]
    assert all(j["next_offset"] == 1 for j in json.loads(body))


def test_read_is_paged_under_row_cap(spark, tmp_path):
    """The read path must stay bounded-memory: a GET serves at most
    max_read_rows rows (limit pushed into the plan, driver holds one
    page) and X-Journal-Next-Offset resumes exactly where the page
    ended — the flow-control analog of append_flow_control.go."""
    g = JournalGateway(spark, str(tmp_path / "journals"), max_read_rows=8)
    host, port = g.start()
    base = f"http://{host}:{port}"
    try:
        _put(base, "api/paged", "\n".join(
            json.dumps({"k": i}) for i in range(30)
        ))
        seen, begin, pages = [], None, 0
        while True:
            q = "" if begin is None else f"?begin={begin}"
            body, headers, status = _get(base, f"/jnl/api/paged{q}")
            rows = [json.loads(ln) for ln in body.splitlines()]
            assert len(rows) <= 8  # the cap holds per response
            seen.extend(r["k"] for r in rows)
            pages += 1
            # status-code contract: capped page = 206, final = 200
            assert status == (206 if headers["X-Journal-Truncated"] == "true" else 200)
            if headers["X-Journal-Truncated"] == "false":
                assert headers["X-Journal-Next-Offset"] == "30"
                break
            begin = int(headers["X-Journal-Next-Offset"])
        assert seen == list(range(30))  # exact, ordered, no dup/gap
        assert pages == 4  # 8+8+8+6
    finally:
        g.stop()


def test_get_where_predicates_prune_and_filter(gw, spark):
    """?where=col<op>value applies exactly over HTTP and rides the
    manifest pruning (zone maps; blooms when the spec lists the
    column). Malformed input is a 400, not a silent full read."""
    import urllib.error
    import urllib.parse

    from core_spark.catalog import CatalogStore, JournalSpec

    g, base = gw
    CatalogStore(g.root).apply(
        upserts=(JournalSpec(name="api/where", bloom_columns=("tag",)),)
    )
    _put(base, "api/where", "\n".join(
        json.dumps({"k": i, "tag": "lo"}) for i in range(5)
    ))
    _put(base, "api/where", "\n".join(
        json.dumps({"k": 100 + i, "tag": "hi"}) for i in range(5)
    ))

    q = urllib.parse.quote("tag=hi") + "&where=" + urllib.parse.quote("k>=103")
    body, headers, status = _get(base, f"/jnl/api/where?where={q}")
    assert status == 200
    rows = [json.loads(ln) for ln in body.splitlines()]
    assert [r["k"] for r in rows] == [103, 104]
    assert all(r["tag"] == "hi" for r in rows)

    # bloom-pruned-to-empty is an empty 200, not an error
    body0, _h, s0 = _get(
        base, "/jnl/api/where?where=" + urllib.parse.quote("tag=absent-zz1")
    )
    assert s0 == 200 and body0 == ""

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/jnl/api/where?where=garbage")
    assert ei.value.code == 400


def test_healthz_active_probe(gw):
    """/healthz performs a real write-read-remove probe (the
    FragmentStoreHealth shape) and needs no credentials."""
    g, base = gw
    body, _h, status = _get(base, "/healthz")
    d = json.loads(body)
    assert status == 200 and d["ok"] is True and d["probe_ms"] >= 0
    # the probe cleaned up after itself
    import os

    assert not [p for p in os.listdir(g.root) if p.startswith("_health-")]


def test_time_travel_reads_over_http(gw):
    """?at=<version> reads the journal AS OF a past manifest version
    (the CAS history is the snapshot index)."""
    from core_spark.sources.journal import Journal

    g, base = gw
    _put(base, "api/tt", json.dumps({"k": 1}))
    v1 = Journal(g.root, "api/tt").manifest().version
    _put(base, "api/tt", json.dumps({"k": 2}))

    body, _h, _s = _get(base, f"/jnl/api/tt?at={v1}")
    assert [json.loads(ln)["k"] for ln in body.splitlines()] == [1]
    body, _h, _s = _get(base, "/jnl/api/tt")
    assert [json.loads(ln)["k"] for ln in body.splitlines()] == [1, 2]


def test_blocking_tail_read_woken_by_concurrent_append(gw, spark):
    """?block=true long-polls until data past `begin` commits
    (ReadRequest.block, broker/read_api.go:17-204): a concurrent
    append must wake the blocked GET well inside the deadline and the
    response must carry exactly the new rows."""
    import threading
    import time

    g, base = gw
    _put(base, "api/tail", json.dumps({"k": 0}))

    result = {}

    def blocked_get():
        t0 = time.monotonic()
        body, headers, status = _get(
            base, "/jnl/api/tail?begin=1&block=true&deadline=30"
        )
        result.update(
            body=body, headers=headers, status=status,
            waited=time.monotonic() - t0,
        )

    t = threading.Thread(target=blocked_get)
    t.start()
    time.sleep(0.4)  # let the GET actually block
    assert not result, "GET returned before any data existed"
    _put(base, "api/tail", json.dumps({"k": 1}))
    t.join(timeout=20)
    assert result, "blocked GET never woke"
    assert result["status"] == 200
    rows = [json.loads(ln) for ln in result["body"].splitlines()]
    assert [r["k"] for r in rows] == [1]
    assert result["waited"] < 20  # woke on the append, not the deadline


def test_blocking_tail_read_deadline_is_206_with_resume_offset(gw):
    """Deadline lapse = 206, empty body, resume offset unchanged —
    the OFFSET_NOT_YET_AVAILABLE analog; the client re-issues the
    same GET."""
    import time

    _, base = gw
    _put(base, "api/tail2", json.dumps({"k": 0}))
    t0 = time.monotonic()
    body, headers, status = _get(
        base, "/jnl/api/tail2?begin=1&block=true&deadline=0.3"
    )
    assert status == 206
    assert body == ""
    assert headers["X-Journal-Next-Offset"] == "1"
    assert headers["X-Journal-Block-Timeout"] == "true"
    assert 0.2 <= time.monotonic() - t0 < 5


def test_blocking_read_with_snapshot_pin_is_400(gw):
    _, base = gw
    _put(base, "api/tail3", json.dumps({"k": 0}))
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base, "/jnl/api/tail3?begin=1&block=true&at=0")
    assert ei.value.code == 400


def test_flat_put_launches_only_its_write_job(gw, spark):
    """A body of flat objects is read under the schema the driver
    derives from its parse: the PUT launches its write job only. A
    body outside the rule (here a nested value) keeps Spark's
    inference job, one job more, which is every PUT's count before
    the rule."""
    g, _ = gw
    flat = "\n".join(json.dumps({"k": f"k{i}", "v": i, "x": i / 3}) for i in range(20))
    frag, jobs = spark_jobs(spark, lambda: g.append_ndjson("api/jobs", flat.encode()))
    assert jobs == 1 and frag.n_records == 20
    nested = json.dumps({"k": "a", "v": {"n": 1}})
    _, jobs = spark_jobs(spark, lambda: g.append_ndjson("api/jobs2", nested.encode()))
    assert jobs == 2
    rows = Journal(g.root, "api/jobs").read(spark).orderBy("_offset").collect()
    assert [(r.k, r.v, r.x) for r in rows] == [(f"k{i}", i, i / 3) for i in range(20)]


def _corpus(seed: int, n: int) -> list[list[str]]:
    """Seeded NDJSON bodies of flat objects: nulls, "", bools, int64
    extremes, floats, timestamp-like strings, and ASCII, non-ASCII and
    non-BMP keys (UTF-16 and code-point order differ on those)."""
    import random

    r = random.Random(seed)
    keys = ["a", "b", "k", "v", "x_1", "Zeta", "é", "ключ", "日本", "\U0001F600", "～", "_x"]
    vals = [None, "", True, False, 0, -(1 << 63), (1 << 63) - 1, -1.5e300,
            "2024-01-01 00:00:00", "2024-01-01T00:00:00Z", "1.5", "héllo"]
    bodies = []
    for _ in range(n):
        lines = []
        for _ in range(r.randrange(1, 6)):
            obj = {r.choice(keys): r.choice(vals + [r.randrange(-999, 999), r.random()])
                   for _ in range(r.randrange(0, 5))}
            lines.append(json.dumps(obj, ensure_ascii=r.random() < 0.5))
        bodies.append(lines)
    return bodies


def test_driver_schema_rule_equals_spark_inference(spark):
    """flat_json_schema returns exactly the schema spark.read.json
    infers for flat bodies, and None (Spark infers) for each shape the
    rule leaves out."""
    from core_spark.gateway import flat_json_schema

    def spark_schema(lines):
        return spark.read.json(spark.sparkContext.parallelize(lines, 1)).schema

    def rule(lines):
        return flat_json_schema(list(enumerate(lines, 1)))

    covered = [
        ['{"a": null, "b": ""}'],  # null-only and ""-only columns are strings
        ['{"a": ""}', '{"a": 5}'],  # "" is a null, so the column is a long
        ['{"a": true}', '{"a": 1}'],  # bool and long widen to string
        ['{"a": 1}', '{"a": 1.5}', '{"a": null}'],  # long and double: double
        ['{"a": 1e5, "b": -0}'],
        ['{}', '{}'],
        ['{"\\ud83d\\ude00": 1, "\\uff5e": 2, "Z": 3, "a": 4}'],
    ]
    bodies = covered + _corpus(11, 24) + _corpus(12, 24)
    for lines in bodies:
        assert rule(lines) == spark_schema(lines), lines

    excluded = [
        ['{"a": {"b": 1}}'],  # nested object
        ['{"a": [1, 2]}'],  # nested array
        ['[{"a": 1}, {"a": 2}]'],  # top-level array
        ['{"a": 9223372036854775808}'],  # above int64: a decimal
        ['{"a": -9223372036854775809}'],
        ['{"a": NaN}'],
        ['{"a": Infinity}'],
        ['{"a": 1, "a": "x"}'],  # duplicate key
        ['{"a": 1}', '{"A": 2}'],  # keys that collide ignoring case
        ['{"": 1, "a": 2}'],  # Spark drops the empty key
    ]
    for lines in excluded:
        assert rule(lines) is None, lines
        spark_schema(lines)  # Spark still reads them


def test_malformed_line_is_400_naming_its_line(gw, spark):
    """A line that is not strict JSON, or that is a JSON scalar rather
    than a record, fails the whole PUT with a 400 naming its 1-based
    line number (blank lines count); nothing is committed. Top-level
    arrays still go to Spark, which reads each element as a row."""
    g, base = gw
    for body, line in (
        ('{"k":"a","v":1}\nnot json', 2),
        ('{"k":"a","v":1}\n\n{"k": }', 3),
        ('{"k":"a"}\n7', 2),
    ):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _put(base, "api/bad", body)
        assert ei.value.code == 400
        assert f"line {line}:" in json.loads(ei.value.read())["error"]
    assert Journal(g.root, "api/bad").manifest().next_offset == 0

    r = _put(base, "api/arrays", '[{"k": 1}, {"k": 2}]')
    assert r["n_records"] == 2
