"""Minimal manifest commit log — transactional visibility for the
file-based continuous aggregates and the streaming stores.

The reference's loader gets atomicity for free from Postgres
transactions (transform_data.py's INSERT batches — SURVEY §2.2 K2).
The Spark-side incremental partials (the rollup/CMS/HLL aggregates and
the novelty-gate stores in streaming/pipeline.py, the IVF postings in
streaming/ivf.py) are parquet ``batch_id=<id>/`` directories, and this
log is the only way a reader sees them: a directory a reader merges
is one a manifest names, so a reader never observes a directory while
it is being (over)written, never merges a crash's torn directory, and
compaction's multi-directory swap is one atomic step. It is the
Delta/Iceberg core idea (an append-only log of manifests; the current
snapshot is the fold of the log; data files are immutable and
invisible until a manifest names them) without the format's
schema/stats machinery:

    table_root/
      batch_id=0/  batch_id=1/ ...     (parquet dirs, written first)
      _commits/
        00000000.json   {"add": ["batch_id=0"], "remove": []}
        00000001.json   {"add": ["batch_id=1"], "remove": []}
        00000002.json   {"add": ["batch_id=-1"],
                         "remove": ["batch_id=0", "batch_id=1"]}

- WRITE protocol (`write_partials`): write the data directory fully,
  then `commit(root, add=[dir])`. A crash between the two leaves an
  orphan directory that no reader ever merges (vacuum sweeps it
  later).
- COMMIT protocol (optimistic, multi-writer-safe on a POSIX fs): the
  manifest body is written to a hidden temp file, fsynced, then
  `os.link`ed to the next sequential slot ``NNNNNNNN.json`` — link is
  atomic and fails with EEXIST if another writer claimed the slot, in
  which case the writer re-reads the log and retries the next slot
  (compare-and-swap on the file name; same device-local guarantee
  Delta relies on for `_delta_log/N.json`).
- READ protocol: `snapshot(root)` folds the ordered manifests into the
  live-directory set; readers load exactly those paths. A concurrent
  commit lands either wholly before or wholly after the listing —
  snapshot isolation at directory granularity.
- REPLAY idempotence: foreachBatch re-delivery re-writes the same
  directory content and re-commits the same `add`; the fold is
  set-valued, so a duplicate add is harmless. `commit` skips the
  manifest entirely when every add was EVER added before and nothing
  is removed — "ever", not "currently live", so a replay of batch N
  that lands after compaction already folded N away cannot resurrect
  it next to its copy inside the compacted directory (the Delta
  per-writer-txn idea at directory granularity; round-8 ADVICE).
  Re-introducing a previously-removed name is still possible, but
  only via a manifest that also removes something (the compaction
  swap shape) — never via a bare replayed add.
- COMPACTION: write the folded directory, then ONE manifest
  {add: [compacted], remove: [inputs]} — the reader-visible swap is a
  single atomic link, so compaction (pipeline.compact_rollup) may run
  concurrently with readers. Removed/orphan directories are deleted by
  `vacuum`, which never touches live ones.
- ADOPTION: a store written as bare ``batch_id=`` directories with no
  log (the layout before the log existed) reads as empty — a reader
  raises FileNotFoundError. `adopt(root)` commits those directories
  as the store's first manifest, once.

Scale notes: manifests are O(changed directories) — bytes, not data;
the fold is a driver-side listing of one small directory (Delta does
exactly this plus periodic checkpoints, unnecessary at the partial
counts a rollup accumulates between compactions). Data never moves
through the log.
"""

from __future__ import annotations

import json
import os


_COMMITS = "_commits"


def _commits_dir(root: str) -> str:
    return os.path.join(root.rstrip("/"), _COMMITS)


def _manifest_name(idx: int) -> str:
    return f"{idx:08d}.json"


def log_entries(root: str) -> list[tuple[int, dict]]:
    """Ordered (index, manifest) pairs; empty when no log exists."""
    cd = _commits_dir(root)
    if not os.path.isdir(cd):
        return []
    out = []
    for entry in sorted(os.listdir(cd)):
        if not entry.endswith(".json") or entry.startswith("."):
            continue
        stem = entry[: -len(".json")]
        if not stem.isdigit():
            continue
        with open(os.path.join(cd, entry)) as f:
            out.append((int(stem), json.load(f)))
    return out


def snapshot(root: str, as_of: int | None = None) -> list[str]:
    """The live relative directory names: fold of add/remove over the
    ordered log. Sorted for deterministic plans.

    ``as_of`` folds only manifests with index ≤ as_of — time travel to
    the table state right after that commit (Delta's VERSION AS OF).
    Correct as long as the named directories haven't been vacuumed;
    pair with a retention policy at the call site. Makes audits (e.g.
    the forget-cascade checks) reproducible against a pinned version
    instead of whatever the log has grown to since."""
    live: set[str] = set()
    for idx, manifest in log_entries(root):
        if as_of is not None and idx > as_of:
            break
        live.difference_update(manifest.get("remove", ()))
        live.update(manifest.get("add", ()))
    return sorted(live)


def snapshot_paths(root: str, as_of: int | None = None) -> list[str]:
    """Absolute paths of the live directories (reader input)."""
    r = root.rstrip("/")
    return [f"{r}/{d}" for d in snapshot(root, as_of=as_of)]


def ever_added(root: str) -> set[str]:
    """Every directory name any manifest has EVER added, live or not.
    The replay no-op check and compaction's fresh-name pick both key
    off this set rather than the live fold, so a name that compaction
    folded away can never be silently resurrected (by a replayed add)
    nor physically overwritten (by a re-used compaction id) while an
    in-flight reader may still hold its path."""
    seen: set[str] = set()
    for _, m in log_entries(root):
        seen.update(m.get("add", ()))
    return seen


def commit(root: str, add: list[str] | None = None,
           remove: list[str] | None = None) -> int | None:
    """Atomically append a manifest; returns its index, or None when
    the commit would be a no-op (every `add` was ever added before,
    nothing to remove) — the foreachBatch replay path. The check is
    against the EVER-added set, not the live fold: a re-delivered
    batch whose directory compaction already folded away must stay
    invisible, not be double-counted next to its compacted copy.

    Claims the next slot with write-temp + fsync + os.link (EEXIST on
    a lost race → re-read, retry next slot)."""
    add = list(add or [])
    remove = list(remove or [])
    if not add and not remove:
        return None
    cd = _commits_dir(root)
    os.makedirs(cd, exist_ok=True)
    body = json.dumps({"add": add, "remove": remove}).encode()
    while True:
        entries = log_entries(root)
        if not remove:
            seen: set[str] = set()
            for _, m in entries:
                seen.update(m.get("add", ()))
            if set(add) <= seen:
                return None  # replayed batch: already visible (or
                # already folded away by compaction — stays invisible)
        idx = entries[-1][0] + 1 if entries else 0
        tmp = os.path.join(cd, f".tmp-{idx}-{os.getpid()}.json")
        with open(tmp, "wb") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        target = os.path.join(cd, _manifest_name(idx))
        try:
            os.link(tmp, target)  # atomic CAS on the slot name
            return idx
        except FileExistsError:
            continue  # another writer claimed the slot; retry
        finally:
            os.unlink(tmp)


def read_committed(spark, root: str, as_of: int | None = None):
    """Reader-side helper shared by the rollup/CMS/HLL sinks: a
    DataFrame over exactly the live directories (snapshot isolation),
    erroring — not cold-starting — when nothing is committed.
    ``as_of`` time-travels to the state after manifest ``as_of``."""
    paths = snapshot_paths(root, as_of=as_of)
    if not paths:
        raise FileNotFoundError(f"no committed partials under {root}")
    return spark.read.option("basePath", root).parquet(*paths)


def write_partials(batch_id: int, *partials) -> None:
    """The WRITE protocol for one micro-batch: each ``(frame, root)``
    pair is written to ``root/batch_id=<batch_id>/`` with directory
    overwrite, and only after every directory is written are they
    committed, one manifest per root. A re-delivered batch rewrites
    the same directories and its duplicate adds are no-ops, so a
    replay can never double-count."""
    name = f"batch_id={batch_id}"
    for part, root in partials:
        part.write.mode("overwrite").parquet(f"{root.rstrip('/')}/{name}")
    for _, root in partials:
        commit(root, add=[name])


def adopt(root: str) -> int | None:
    """Commit a log-less store's ``batch_id=`` directories as its first
    manifest, so the committed readers see exactly what a directory
    listing of the store would have merged. Returns the manifest index,
    or None when the store already has a log (or holds no directory) —
    running it twice is harmless."""
    if log_entries(root):
        return None
    r = root.rstrip("/")
    dirs = sorted(
        e
        for e in os.listdir(r)
        if e.startswith("batch_id=") and os.path.isdir(os.path.join(r, e))
    )
    return commit(root, add=dirs)


def vacuum(root: str, only: list[str] | None = None) -> list[str]:
    """Delete data directories that are NOT in the current snapshot.
    Never touches a live directory or the log itself. Returns what it
    removed.

    ``only`` restricts deletion to the named directories (still
    intersected with not-live). Compaction passes the exact input set
    it removed, because a FULL vacuum concurrent with a live stream is
    unsafe: a batch directory already written but not yet committed is
    indistinguishable from a crash orphan, and deleting it would break
    the writer's imminent commit permanently (the checkpoint advances,
    the batch is never re-delivered — round-8 ADVICE). Run the
    unrestricted form only while no writer is mid write-then-commit
    (e.g. with the stream stopped).

    Reader caveat (documented, not solved — Delta has the same race
    and answers it with a retention window): a DataFrame built from a
    snapshot taken BEFORE the directories were removed will fail with
    FileNotFoundException if it reads after vacuum deletes its inputs.
    Fail-loud, never wrong data; long-running readers should re-read
    from a fresh snapshot on failure, or vacuum should be deferred by
    a retention delay at the call site."""
    import shutil

    r = root.rstrip("/")
    if not os.path.isdir(r):
        return []
    live = set(snapshot(root))
    candidates = set(only) if only is not None else None
    removed = []
    for entry in os.listdir(r):
        if entry == _COMMITS or entry in live:
            continue
        if candidates is not None and entry not in candidates:
            continue
        p = os.path.join(r, entry)
        if os.path.isdir(p):
            shutil.rmtree(p)
            removed.append(entry)
    return sorted(removed)
