"""Manifest-store CAS contract: contended appends and fence
acquisition serialize on conditional create, for both the filesystem
(O_EXCL) and object-store (conditional-PUT model) drivers —
broker/stores/* persist contract + consumer/store_sql.go fence CAS."""

import threading

import pytest

from core_spark.sources.journal import AppendConflict, Journal, Manifest
from core_spark.sources.stores import FSManifestStore, MemoryCASStore


@pytest.fixture(params=["fs", "mem", "http"])
def make_store(request, tmp_path):
    if request.param == "fs":
        yield lambda: FSManifestStore(str(tmp_path / "m"))
        return
    if request.param == "mem":
        shared = MemoryCASStore()
        yield lambda: shared
        return
    # http: the CAS evaluated by an actual conditional-PUT protocol
    # exchange (If-None-Match: * -> 2xx/412), over a real socket
    from core_spark.sources.http_store import (
        HTTPManifestStore,
        ObjectStoreServer,
    )

    srv = ObjectStoreServer()
    host, port = srv.start()
    yield lambda: HTTPManifestStore(f"http://{host}:{port}", "bucket/m")
    srv.stop()


def test_put_if_absent_admits_exactly_one(make_store):
    store = make_store()
    assert store.put_if_absent(1, '{"a": 1}')
    assert not store.put_if_absent(1, '{"a": 2}')
    assert store.read(1) == '{"a": 1}'
    assert store.list_versions() == [1]


def test_contended_append_one_winner(spark, tmp_path, make_store):
    """Two appenders over the SAME store race a manifest version: the
    CAS admits exactly one; the loser raises AppendConflict, rolls its
    fragment back, and a retry lands with serialized offsets."""
    store = make_store()
    a = Journal(str(tmp_path / "j"), "race/j1", store=store)
    b = Journal(str(tmp_path / "j"), "race/j1", store=store)
    df = spark.range(0, 10).withColumnRenamed("id", "v")

    a.append(df)  # version 1, offsets [0, 10)

    # both read the same manifest (version 1) before either commits:
    # simulate by committing an intervening manifest between b's read
    # and commit via a's append
    m_b = b.manifest()
    a.append(df)  # version 2 lands first
    with pytest.raises(AppendConflict):
        b._commit_manifest(
            Manifest(
                version=m_b.version + 1,
                next_offset=m_b.next_offset + 10,
                fragments=m_b.fragments,
                registers=m_b.registers,
            )
        )
    # loser retries from the fresh manifest and wins
    frag = b.append(df)
    assert frag.begin == 20 and frag.end == 30
    assert a.read(spark).count() == 30


def test_fence_acquisition_unique_under_threads(tmp_path, make_store):
    """N concurrent incarnations each get a distinct, increasing
    fence — uniqueness is store-assigned via the manifest CAS, never
    assumed (the split-brain the fence exists to prevent)."""
    store = make_store()
    j = Journal(str(tmp_path / "j"), "race/fence", store=store)
    fences: list[int] = []
    lock = threading.Lock()

    def acquire():
        f = Journal(str(tmp_path / "j"), "race/fence", store=store).acquire_fence(
            "s0"
        )
        with lock:
            fences.append(f)

    threads = [threading.Thread(target=acquire) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert sorted(fences) == list(range(1, 9))  # unique, dense, increasing
    assert int(j.manifest().registers["fence:s0"]) == 8


# ------------------------------------------------------- http protocol
@pytest.fixture()
def bucket():
    from core_spark.sources.http_store import ObjectStoreServer

    srv = ObjectStoreServer()
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


def _put(url, data: bytes, headers=None):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, data=data, method="PUT", headers=headers or {}
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers)


def test_http_if_none_match_create_only(bucket):
    """`PUT If-None-Match: *` admits exactly one creator — the wire
    form of the manifest CAS (S3 conditional write / GCS
    x-goog-if-generation-match: 0)."""
    code1, _ = _put(f"{bucket}/k", b"first", {"If-None-Match": "*"})
    code2, _ = _put(f"{bucket}/k", b"second", {"If-None-Match": "*"})
    assert (code1, code2) == (200, 412)
    import urllib.request

    with urllib.request.urlopen(f"{bucket}/k") as resp:
        assert resp.read() == b"first"


def test_http_if_match_replace_guard(bucket):
    """`If-Match: <etag>` replaces only the version the writer read —
    stale writers get 412, absent keys 404."""
    _, h = _put(f"{bucket}/k", b"v1")
    etag = h["ETag"]
    code, h2 = _put(f"{bucket}/k", b"v2", {"If-Match": etag})
    assert code == 200
    # the first ETag is now stale
    code, _ = _put(f"{bucket}/k", b"v3", {"If-Match": etag})
    assert code == 412
    code, _ = _put(f"{bucket}/missing", b"x", {"If-Match": etag})
    assert code == 404


def test_http_conditional_put_race_admits_one(bucket):
    """16 threads race `If-None-Match: *` on one key over the wire:
    exactly one 2xx."""
    import threading

    codes = []
    lock = threading.Lock()

    def racer(i):
        code, _ = _put(
            f"{bucket}/race", f"writer-{i}".encode(), {"If-None-Match": "*"}
        )
        with lock:
            codes.append(code)

    ts = [threading.Thread(target=racer, args=(i,)) for i in range(16)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert sorted(codes).count(200) == 1
    assert sorted(codes).count(412) == 15


@pytest.mark.parametrize("stray", ["v.json", "vbak.json"])
def test_stray_names_are_not_versions(tmp_path, stray):
    """Only `v<n>.json` is a version file: a stray name in a journal's
    manifest dir or a catalog's dir is neither read nor counted."""
    from core_spark.catalog import CatalogStore, JournalSpec

    j = Journal(str(tmp_path), "stray/j")
    j.update_registers(set_registers={"k": "1"})
    cat = CatalogStore(str(tmp_path))
    cat.apply(upserts=(JournalSpec("stray/j"),))
    for d in (j.manifest_dir, cat.dir):
        (tmp_path / d / stray).write_text("junk")
    m = j.manifest()
    assert (m.version, m.registers) == (1, {"k": "1"})
    j.update_registers(set_registers={"k": "2"})
    assert j.manifest().version == 2
    assert cat.version() == 1
    assert [s.name for s in cat.specs()] == ["stray/j"]
    assert cat.apply(deletions=("stray/j",), expect_version=1) == 2
    assert cat.specs() == ()
