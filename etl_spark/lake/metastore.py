"""MetadataStore — the commit-protocol storage behind a LakeTable's
``_meta`` directory.

The entire exactly-once design rests on ONE storage primitive:

    ``publish_version(v, payload)`` is atomic and FAILS if version ``v``
    already exists.

Everything else (optimistic retries, epoch fencing, rebase conflict
detection) is built in ``LakeTable`` on top of that reservation. This
module isolates the primitive per backend:

* **PosixMetadataStore** (default) — write-tmp + ``os.link`` (EEXIST =
  lost race) + dir fsync. Correct on any POSIX filesystem, including
  NFS (link is atomic there too) and HDFS via NFS gateways.

* **InMemoryMetadataStore** — a compare-and-set dict. Used by the race
  tests; it is also the reference rendition of the conditional-PUT
  semantics an object store provides.

* **Object stores** (deployment note, not shipped — no cloud SDKs in
  this environment): the reservation maps 1:1 onto a conditional PUT —
  S3 ``If-None-Match: *`` (supported since 2024), GCS
  ``x-goog-if-generation-match: 0``, Azure Blob ``If-None-Match: *``.
  An implementation subclasses ``MetadataStore`` and raises
  ``ConcurrentCommitError`` on the precondition-failed status (412/409).
  For stores without conditional writes, use an external lock/catalog
  service that owns the version counter (the Iceberg catalog pattern:
  ``commit(table, expected_version, new_metadata_location)`` CAS in a
  database), with the JSON payloads living at content-addressed keys.
  The HINT pointer is advisory either way — readers who miss it fall
  back to ``max(list_versions())`` — so hint staleness on an eventually
  consistent store affects freshness, never correctness.

Reference analogue: the reference delegates this to BigQuery's job
atomicity (one INSERT/MERGE job per partition — e.g.
/root/reference/etl/dags/user_history/user_history/dag.py); a lake
engine has to own it.
"""

from __future__ import annotations

import json
import os
import threading
import uuid


class ConcurrentCommitError(RuntimeError):
    """A racing writer published the metadata version this commit wanted.

    Raised to callers only after optimistic retries are exhausted (or from
    the raw reservation, which the retrying commit paths catch
    internally)."""


class MetadataStore:
    """Abstract commit-protocol storage for one table's metadata.

    Implementations must make ``publish_version`` an atomic
    create-if-absent; every other method has ordinary read/write
    semantics. ``write_hint`` should be atomic (readers must never see a
    torn pointer) but may be arbitrarily stale — it is an optimization,
    not a source of truth.
    """

    def publish_version(self, version: int, payload: str) -> None:
        raise NotImplementedError

    def read_version(self, version: int) -> str:
        """Raises FileNotFoundError if absent (vacuumed or never written)."""
        raise NotImplementedError

    def version_exists(self, version: int) -> bool:
        try:
            self.read_version(version)
            return True
        except FileNotFoundError:
            return False

    def write_hint(self, version: int) -> None:
        raise NotImplementedError

    def read_hint(self) -> int | None:
        """Latest-version pointer, or None if the table does not exist."""
        raise NotImplementedError

    def list_versions(self) -> list[int]:
        raise NotImplementedError

    def delete_version(self, version: int) -> None:
        raise NotImplementedError

    # -- convenience (shared) -------------------------------------------------

    def publish_json(self, version: int, obj: dict) -> None:
        self.publish_version(version, json.dumps(obj, indent=1))

    def read_json(self, version: int) -> dict:
        return json.loads(self.read_version(version))


class PosixMetadataStore(MetadataStore):
    """Default backend: a local/posix ``_meta`` directory.

    Reservation = write-tmp + ``os.link`` — link fails with EEXIST if the
    target exists, so two racing committers cannot both claim ``v{N}``
    (a bare rename would silently clobber the loser). The hint flip is
    tmp+rename (atomic pointer swap) followed by a directory fsync so a
    power loss cannot persist the hint without the version's dir entry.
    """

    def __init__(self, meta_dir: str):
        self.meta_dir = meta_dir

    def _vpath(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version}.json")

    def publish_version(self, version: int, payload: str) -> None:
        os.makedirs(self.meta_dir, exist_ok=True)
        if not _create_text(self._vpath(version), payload):
            raise ConcurrentCommitError(
                f"metadata version v{version}.json already exists — "
                "concurrent writer?"
            )

    def read_version(self, version: int) -> str:
        with open(self._vpath(version)) as f:
            return f.read()

    def write_hint(self, version: int) -> None:
        path = os.path.join(self.meta_dir, "version-hint.text")
        tmp = path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        _fsync_dir(self.meta_dir)

    def read_hint(self) -> int | None:
        path = os.path.join(self.meta_dir, "version-hint.text")
        try:
            with open(path) as f:
                text = f.read().strip()
        except FileNotFoundError:
            return None
        return int(text) if text else None

    def list_versions(self) -> list[int]:
        try:
            names = os.listdir(self.meta_dir)
        except FileNotFoundError:
            return []
        out = []
        for name in names:
            m = name.removeprefix("v").removesuffix(".json")
            if name.startswith("v") and name.endswith(".json") and m.isdigit():
                out.append(int(m))
        return sorted(out)

    def delete_version(self, version: int) -> None:
        os.remove(self._vpath(version))


class InMemoryMetadataStore(MetadataStore):
    """Conditional-PUT semantics over a dict — the fake backend for race
    tests and the reference shape for an object-store implementation
    (``publish_version`` IS ``PUT If-None-Match: *``)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._versions: dict[int, str] = {}
        self._hint: int | None = None

    def publish_version(self, version: int, payload: str) -> None:
        with self._lock:
            if version in self._versions:
                raise ConcurrentCommitError(
                    f"metadata version v{version} already exists — "
                    "concurrent writer?"
                )
            self._versions[version] = payload

    def read_version(self, version: int) -> str:
        try:
            return self._versions[version]
        except KeyError:
            raise FileNotFoundError(f"metadata version {version} not found")

    def write_hint(self, version: int) -> None:
        self._hint = version

    def read_hint(self) -> int | None:
        return self._hint

    def list_versions(self) -> list[int]:
        return sorted(self._versions)

    def delete_version(self, version: int) -> None:
        self._versions.pop(version, None)


def _atomic_write_text(path: str, text: str) -> None:
    """Atomic single-file text write (tmp + fsync + rename). The tmp name
    is unique per ATTEMPT, not per process: racing threads of one driver
    (e.g. a restarted stream query racing its predecessor's teardown)
    sharing a pid-only tmp path could rename each other's partial
    writes — same hazard publish_version and write_hint already guard."""
    tmp = path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _create_text(path: str, text: str) -> bool:
    """Create-if-absent single-file text write (tmp + fsync + link): link
    fails with EEXIST if ``path`` exists, so of racing writers exactly one
    creates it and none overwrites. Returns False when ``path`` already
    existed. The tmp name is unique per ATTEMPT (pid alone would collide
    for racing threads of one process)."""
    tmp = path + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


def _fsync_dir(path: str) -> None:
    """fsync the directory entry updates — without it a power loss can
    persist a rename's target but lose the entry itself."""
    fd = os.open(path, os.O_DIRECTORY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
