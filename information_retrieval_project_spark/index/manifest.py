"""Versioned snapshot store: the one commit protocol of every stored index
— the index store (index/build.write_index) and the positions store.

Layout of a store dir:

    CURRENT              name of the committed snapshot, e.g. "v000007"
    vNNNNNN/             published snapshots: the committed one and its
                         predecessor (in-flight readers pinned to it keep
                         their files for one more commit)
    _staging_vNNNNNN/    a snapshot being written

A snapshot is a complete dir of data files plus a driver-written
state.json (the store's `index_format`, term-bucket modulus, analyzer and
caller state; committed() is its validated read). A commit publishes the
staged dir with ONE os.rename, then flips CURRENT atomically (write a tmp
file, fsync it, os.replace), then garbage-collects. A crash at any point
leaves CURRENT on a complete snapshot; the next writer removes what the
crash left and re-stages. At cluster scale the pointer flip is an
Iceberg/Delta log commit ("Delta Lake", VLDB 2020).

Single writer per store: two concurrent writers would stage the same next
version and collide on the publish rename (the loser raises; committed
state is never corrupted). Staging dirs of other versions are reaped only
once older than STAGING_GC_AGE_S, so a slow live writer is never reaped.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from ..functions.textnorm import _SPLIT_PATTERNS, Analyzer

CURRENT = "CURRENT"
STATE = "state.json"
STAGING_GC_AGE_S = 15 * 60


class SnapshotStoreError(RuntimeError, ValueError):
    """A store dir that cannot be resolved to a complete snapshot: a
    pointer naming a missing snapshot, a snapshot without a readable
    state.json, or a layout this protocol did not write. It is both a
    RuntimeError (what the index store raised) and a ValueError (what the
    positions store raised)."""


def _version(name: str) -> int | None:
    return int(name[1:]) if name[:1] == "v" and name[1:].isdigit() else None


def _uncommitted(entry: str) -> bool:
    """What a store holds before its first commit completes."""
    return entry.startswith("_staging_") or entry == CURRENT + ".tmp" or (
        _version(entry) is not None
    )


def current(store: str) -> str | None:
    """Path of the committed snapshot, or None when nothing is committed.
    Refuses, naming the dir, any layout this protocol did not write —
    an older format fails loudly instead of being misread."""
    ptr = os.path.join(store, CURRENT)
    if not os.path.exists(ptr):
        if os.path.isdir(store) and not all(
            _uncommitted(e) for e in os.listdir(store)
        ):
            raise SnapshotStoreError(
                f"{store} is not a snapshot store (no {CURRENT} pointer, "
                f"but holds {sorted(os.listdir(store))}); it was written in "
                "an older layout — rebuild it"
            )
        return None
    with open(ptr) as f:
        name = f.read().strip()
    path = os.path.join(store, name)
    if _version(name) is None or not os.path.isdir(path):
        raise SnapshotStoreError(
            f"{CURRENT} in {store} names missing snapshot {name!r}"
        )
    if not os.path.exists(os.path.join(path, STATE)):
        raise SnapshotStoreError(
            f"snapshot {path} has no {STATE}; it was written in an older "
            "layout — rebuild it"
        )
    return path


def read_state(snapshot: str) -> dict:
    """The state.json committed with a snapshot."""
    try:
        with open(os.path.join(snapshot, STATE)) as f:
            state = json.load(f)
    except (OSError, ValueError) as e:
        raise SnapshotStoreError(f"corrupt {STATE} in {snapshot}") from e
    if not isinstance(state, dict):
        raise SnapshotStoreError(f"corrupt {STATE} in {snapshot}")
    return state


def committed(
    store: str, fmt: str, required: bool = True, analyzer: Analyzer | None = None
) -> tuple[str, dict] | None:
    """(path, state) of the committed snapshot, written in format `fmt`,
    with state["analyzer"] as an Analyzer; None if nothing is committed and
    not `required`. A snapshot of another format, with an invalid
    term-bucket modulus or analyzer, or (when `analyzer` is given) with
    another analyzer raises, naming the dir: misreading any of them would
    silently drop valid rows. Writers call it before begin(), those merging
    a delta with their analyzer, so no store mixes formats or analyzers."""
    snap = current(store)
    if snap is None:
        if required:
            raise SnapshotStoreError(f"no snapshot committed in {store}")
        return None
    state = read_state(snap)
    if state.get("index_format") != fmt:
        raise SnapshotStoreError(
            f"snapshot {snap} is not {fmt!r} (index_format="
            f"{state.get('index_format')!r}); rebuild it"
        )
    tb = state.get("term_buckets")
    if type(tb) is not int or tb < 1:
        raise SnapshotStoreError(
            f"corrupt {STATE} in {snap}: term_buckets={tb!r}"
        )
    try:
        got = Analyzer(**state["analyzer"])
        valid = got.strategy in _SPLIT_PATTERNS and {*map(type, got[1:])} == {bool}
    except (KeyError, TypeError):
        valid = False
    if not valid:
        raise SnapshotStoreError(f"corrupt {STATE} in {snap}: {state.get('analyzer')=}")
    if analyzer not in (None, got):
        raise SnapshotStoreError(f"snapshot {snap} is {got}, not {analyzer}")
    return snap, {**state, "analyzer": got}


def begin(store: str) -> str:
    """Create and return the staging dir of the next version (committed
    + 1). First removes what crashed writers left: published-but-never-
    committed vN dirs, this version's own staging dir, and staging dirs
    older than STAGING_GC_AGE_S."""
    os.makedirs(store, exist_ok=True)
    cur = current(store)
    cur_id = _version(os.path.basename(cur)) if cur else 0
    now = time.time()
    for entry in os.listdir(store):
        p = os.path.join(store, entry)
        vid = _version(entry)
        if vid is not None and vid > cur_id:
            shutil.rmtree(p, ignore_errors=True)
        elif entry.startswith("_staging_"):
            try:
                stale = now - os.path.getmtime(p) > STAGING_GC_AGE_S
            except OSError:
                continue
            if stale:
                shutil.rmtree(p, ignore_errors=True)
    staging = os.path.join(store, f"_staging_v{cur_id + 1:06d}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    return staging


def commit(store: str, staging: str, state: dict) -> str:
    """Write state.json into the fully staged dir, publish it, flip CURRENT,
    then retire every snapshot but the new one and its predecessor.
    Returns the new snapshot's name."""
    with open(os.path.join(staging, STATE), "w") as f:
        json.dump(state, f, sort_keys=True)
    prev = current(store)
    name = os.path.basename(staging)[len("_staging_"):]
    os.rename(staging, os.path.join(store, name))
    ptr_tmp = os.path.join(store, CURRENT + ".tmp")
    with open(ptr_tmp, "w") as f:
        f.write(name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(ptr_tmp, os.path.join(store, CURRENT))
    keep = {name, os.path.basename(prev) if prev else None}
    for entry in os.listdir(store):
        if _version(entry) is not None and entry not in keep:
            shutil.rmtree(os.path.join(store, entry), ignore_errors=True)
    return name
