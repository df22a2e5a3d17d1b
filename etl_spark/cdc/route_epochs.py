"""Cross-table epoch visibility for router fan-out.

The router deliberately has NO cross-table atomicity (router.py module
doc; same as the reference, whose per-event INSERT jobs are separate
BigQuery jobs — /root/reference/etl/dags/user_history/user_history/
dag.py:41-48 bounds them per-day, not per-statement). Per-table epoch
fencing makes a crash mid-fan-out CONVERGE on resume, but until it
resumes, a reader joining two routed tables can observe one at epoch k
and the other at k-1.

This module bounds and surfaces that window instead of pretending it
away (round-5 verdict item 5, option B):

* **Bound (documented + tested)**: the inconsistency window is at most
  ONE epoch — ``route_batch`` applies epoch k to every destination
  before any destination sees k+1, so two live tables can never diverge
  by more than one epoch, and only between a crash and the resumed
  replay of the torn epoch.
* **Marker**: after every destination committed epoch k, the router
  writes ``base_path/_router_epochs/<source>/e<k>.json`` — the
  consumer-facing "epoch complete across tables" record, carrying each
  destination's table path and its metadata VERSION at completion.
* **Consistent reads**: :func:`consistent_view` pins every routed table
  to the newest marker's recorded versions (LakeTable time travel).
  Readers through it NEVER observe a torn epoch: a crash between
  per-table applies leaves the epoch's marker unwritten, so the view
  serves the previous epoch's snapshot for ALL tables — bounded
  staleness (one epoch behind the spine at worst) instead of
  cross-table skew. This is the same pointer-swap shape an Iceberg
  catalog's multi-table commit gives: per-table state lands first,
  visibility flips atomically with one marker write.

Marker writes are crash-safe and write-once: tmp+fsync, then a hard
link that fails if the marker exists. A re-run of a fenced epoch keeps
the marker the first completion wrote. Rewriting it from the tables'
CURRENT metadata would pin epoch k to versions that already hold later
epochs, and the torn-newest fallback in ``latest_route_epoch`` would
then serve "epoch k" with epoch-N state.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from ..lake.metastore import _create_text, _fsync_dir

ROUTER_EPOCHS_DIR = "_router_epochs"


def _source_dirname(source: str) -> str:
    """Filesystem-safe directory name for a fencing-source string (which
    may carry checkpoint-lineage suffixes): readable prefix + short hash
    so distinct sources can never collide after sanitization."""
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", source)[:48]
    return f"{safe}-{hashlib.sha256(source.encode()).hexdigest()[:8]}"


def _marker_dir(base_path: str, source: str) -> str:
    return os.path.join(base_path, ROUTER_EPOCHS_DIR, _source_dirname(source))


def mark_route_epoch(
    base_path: str,
    source: str,
    epoch: int,
    tables: dict,
    rest=None,
) -> str:
    """Record that ``epoch`` is complete across every destination.

    Call ONLY after ``route_batch`` returned for the epoch (every
    destination either committed or fenced it). An existing marker for
    ``epoch`` is left as it is. Returns the marker path.
    """
    dests = dict(tables)
    if rest is not None:
        dests[os.path.basename(os.path.normpath(rest.path))] = rest
    payload = {
        "source": source,
        "epoch": int(epoch),
        "tables": {
            name: {
                "path": os.path.normpath(t.path),
                "version": int(t.version),
                "committed_epoch": int(t.committed_epoch(source)),
            }
            for name, t in sorted(dests.items())
        },
    }
    d = _marker_dir(base_path, source)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"e{int(epoch):012d}.json")
    # False when a re-run or a racing router marked the epoch first: the
    # first marker stands
    if _create_text(path, json.dumps(payload, indent=1)):
        _fsync_dir(d)
    return path


def latest_route_epoch(base_path: str, source: str) -> dict | None:
    """The newest complete-epoch marker for ``source``, or None if the
    router has not completed any epoch yet."""
    d = _marker_dir(base_path, source)
    try:
        names = sorted(
            n for n in os.listdir(d)
            if n.startswith("e") and n.endswith(".json")
        )
    except FileNotFoundError:
        return None
    for name in reversed(names):  # tolerate a torn newest marker
        try:
            with open(os.path.join(d, name)) as f:
                return json.load(f)
        except (json.JSONDecodeError, OSError):
            continue
    return None


def consistent_view(spark, base_path: str, source: str) -> tuple[int, dict]:
    """(epoch, {table_name: DataFrame}) — every routed table's live
    snapshot pinned to the newest COMPLETE epoch's recorded metadata
    versions. Cross-table consistent by construction: all returned
    DataFrames reflect exactly the change stream up to ``epoch``, even
    while a crashed fan-out has later epochs half-applied. Raises
    FileNotFoundError when no epoch has completed yet.

    Lazily-created destinations: a table first sighted at epoch k joins
    the markers AT k (already backfilled with epochs 0..k-1, so its
    pinned state is complete from its first appearance). Markers older
    than k simply don't list it — a reader pinned to such a marker sees
    the world as it stood when that epoch completed, which is the
    consistency contract; read the LATEST marker (what this function
    does) for the full destination set. Vacuuming table metadata can
    expire the versions recorded in OLD markers; the newest marker's
    versions are current by construction."""
    from ..lake.table import LakeTable

    marker = latest_route_epoch(base_path, source)
    if marker is None:
        raise FileNotFoundError(
            f"no complete router epoch recorded under "
            f"{_marker_dir(base_path, source)!r} — replay has not finished "
            f"any epoch for source {source!r}"
        )
    views = {
        name: LakeTable(
            spark, info["path"], at_version=info["version"]
        ).snapshot_df()
        for name, info in marker["tables"].items()
    }
    return int(marker["epoch"]), views
