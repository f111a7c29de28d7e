"""Manifest stores: the compare-and-set primitive behind journal
appends, abstracted over backends.

The reference ships one store driver per backing service
(broker/stores/s3/store.go, stores/gcs/store.go, stores/azure/store.go,
stores/fs/store.go), all exposing the same persist/list contract; its
remote consumer stores likewise reduce exactly-once to one atomic
conditional write (consumer/store_sql.go:12-146's fence-increment
UPDATE). Here the contract is narrower and sharper: a manifest version
file is written AT MOST ONCE — `put_if_absent` either creates
version N or reports that someone else already did.

- FSManifestStore: local/NFS filesystems via link(2) of a written
  spool — the POSIX conditional create. It also stores the journal
  and shard catalogs (core_spark/catalog.py).
- MemoryCASStore: an in-memory model of an object store's conditional
  PUT (S3 `If-None-Match: *`, GCS `x-goog-if-generation-match: 0`,
  Azure `If-None-Match: *`) — the semantics a production S3/GCS/ABFS
  driver would implement with one HTTP header; used to test the
  engine's append/fence protocol against a contended store without a
  network. The blobs dict plays the bucket; the lock plays the
  service's internal serialization of conditional writes.

Everything above this layer (Journal.append's write-temp → CAS
protocol, fence acquisition, registers) is backend-agnostic.
"""

from __future__ import annotations

import os
import re
import threading

# A version file is named exactly as `f"v{n}.json"` names it; anything
# else in the directory (an editor backup, a stray `v.json`) is not one.
_VERSION_FILE = re.compile(r"v(0|[1-9][0-9]*)\.json")


def version_of(name: str) -> int | None:
    """The version a file name holds, or None if it is not one."""
    m = _VERSION_FILE.fullmatch(name)
    return int(m.group(1)) if m else None


class ManifestStore:
    """Versioned manifest blobs with conditional create."""

    def list_versions(self) -> list[int]:
        raise NotImplementedError

    def read(self, version: int) -> str:
        raise NotImplementedError

    def put_if_absent(self, version: int, data: str) -> bool:
        """Create version atomically; False if it already exists."""
        raise NotImplementedError


class FSManifestStore(ManifestStore):
    """Conditional create on a filesystem directory: link(2) of a
    written spool, which fails with EEXIST atomically."""

    def __init__(self, directory: str):
        self.directory = directory
        os.makedirs(directory, exist_ok=True)

    def _path(self, version: int) -> str:
        return os.path.join(self.directory, f"v{version}.json")

    def list_versions(self) -> list[int]:
        vs = (version_of(f) for f in os.listdir(self.directory))
        return [v for v in vs if v is not None]

    def read(self, version: int) -> str:
        with open(self._path(version)) as fh:
            return fh.read()

    def put_if_absent(self, version: int, data: str) -> bool:
        # Write aside, then hard-link into place: link(2) fails with
        # EEXIST atomically, AND the version file appears fully
        # written — a bare O_EXCL create would let a concurrent
        # reader list the version before its bytes land.
        import uuid as _uuid

        tmp = os.path.join(self.directory, f".tmp-{_uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._path(version))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class MemoryCASStore(ManifestStore):
    """Object-store conditional-PUT semantics, in memory.

    One instance models one bucket prefix; share the instance between
    Journal objects to model concurrent appenders against the same
    remote journal.
    """

    def __init__(self):
        self._blobs: dict[int, str] = {}
        self._lock = threading.Lock()

    def list_versions(self) -> list[int]:
        with self._lock:
            return list(self._blobs.keys())

    def read(self, version: int) -> str:
        with self._lock:
            return self._blobs[version]

    def put_if_absent(self, version: int, data: str) -> bool:
        # the service-side atomicity of `PUT x If-None-Match: *`
        with self._lock:
            if version in self._blobs:
                return False
            self._blobs[version] = data
            return True


def probe_store(root: str) -> dict:
    """Active store health probe: exclusive-create a sentinel under
    `root`, read it back, remove it — the write-path check the
    reference's fragment-store health API performs (gazctl
    `journals store-health`, broker store health checks). Shared by
    the gateway's /healthz and the CLI `journals-store-health`."""
    import time as _t
    import uuid as _uuid

    probe = os.path.join(root, f"_health-{_uuid.uuid4().hex}")
    t0 = _t.perf_counter()
    try:
        os.makedirs(root, exist_ok=True)
        fd = os.open(probe, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as fh:
            fh.write("ok")
        with open(probe) as fh:
            ok = fh.read() == "ok"
        return {
            "ok": ok,
            "root": root,
            "probe_ms": round((_t.perf_counter() - t0) * 1000, 3),
        }
    except OSError as e:
        return {"ok": False, "root": root, "error": str(e)}
    finally:
        # a probe failing between create and read must not leave its
        # sentinel behind — the probe advertises cleanliness
        try:
            os.remove(probe)
        except OSError:
            pass
