"""Manifest-pointer table publication — the ONE way a table is
replaced in this engine (compaction, SCD2 history rebuilds, MinHash,
SRP, IVF, PQ and IVF-PQ index builds and re-fits, IVM aggregate
refreshes). A multi-table index is ONE manifest table: its sub-tables
(``bands/`` + ``shingles/``, ``buckets/`` + ``vectors/``) and sidecars
share one version dir behind one pointer.

Directory renames are not a portable swap primitive: on S3-style object
stores "rename" is a copy+delete over every object (O(bytes),
non-atomic, and a crash mid-copy leaves a half table under the live
name). The standard fix — what Delta/Iceberg/Hive-ACID all reduce to —
is to never move data at all:

- each rewrite lands in a fresh, immutable, versioned directory
  (``<base>/v=00000042/``), fully written before anyone can see it;
- a single tiny pointer object (``<base>/_current``) names the live
  version; publishing = writing the pointer, which is one atomic
  single-object PUT (``os.replace`` locally — the same primitive);
- readers AND appenders resolve the pointer once at their entry point
  (:func:`manifest_resolve`), then touch only that directory. Reading
  ``<base>`` itself would make Spark's partition discovery see ``v`` as
  a column; appending there would land beside the version dirs. A
  reader mid-scan of the old version keeps a consistent snapshot
  because superseded versions are pruned only past a retention count.

Crash matrix: a crash during or after a version write but before the
pointer flip leaves an UNREFERENCED directory — garbage, pruned on the
next publish or :func:`manifest_recover`; the live table was never
touched. There is no dataset-missing window and no reader quiescing.
The one contract left to callers: no appender may write into the live
version while a compaction or rebuild of the same table runs (its rows
would land in the superseded version and vanish from the new one).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

CURRENT = "_current"
_VPREFIX = "v="


def _version_dirs(base: str) -> list[str]:
    if not os.path.isdir(base):
        return []
    return sorted(
        d for d in os.listdir(base) if d.startswith(_VPREFIX)
    )


def manifest_current(base: str) -> str | None:
    """Absolute path of the live version directory, or None when
    ``base`` has no published version (new table, or a plain
    un-migrated parquet directory)."""
    ptr = os.path.join(base, CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        name = fh.read().strip()
    return os.path.join(base, name)


def manifest_resolve(base: str) -> str:
    """Data path for readers: the live version dir when published,
    else ``base`` itself (loose parquet files — the pre-migration
    state a first :func:`manifest_publish` upgrades in place)."""
    return manifest_current(base) or base


def manifest_files(base: str) -> list[str]:
    """The data files of the live version (of ``base`` itself when
    unpublished; a single-file table is its own list), sorted, by
    Spark's hidden-file rule: no file or directory whose name starts
    with ``_`` or ``.`` — ``_SUCCESS``, ``.crc`` checksums,
    ``_temporary``, an index's ``_centroids`` sidecar. The catalog's
    footer schema and row counts, the layout's footer bounds and file
    counts all list a table's files here."""
    root = manifest_resolve(base)
    if os.path.isfile(root):
        return [root]
    files = []
    for dp, dirs, fs in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        files.extend(
            os.path.join(dp, f) for f in sorted(fs) if not f.startswith(("_", "."))
        )
    return files


def manifest_publish(
    base: str,
    write: Callable[[str], None],
    keep: int = 1,
) -> str:
    """Publish a new table version: ``write(new_dir)`` materializes the
    data (e.g. ``df.write.parquet(new_dir)``), then the ``_current``
    pointer flips to it atomically. Returns the new version dir.

    ``keep`` retains that many SUPERSEDED versions for in-flight
    readers (0 = prune immediately after flip). Every other entry of
    ``base`` — the loose files, ``k=v/`` partition dirs and sidecars of
    a plain directory being migrated, or of a migration a crash cut
    short — is removed after the flip, so ``base`` holds only the
    pointer and version dirs. Unreferenced version dirs from crashed
    publishes are pruned before the write: publish is self-healing.
    """
    os.makedirs(base, exist_ok=True)
    manifest_recover(base)
    versions = _version_dirs(base)
    nxt = 1 + (int(versions[-1][len(_VPREFIX):]) if versions else 0)
    name = f"{_VPREFIX}{nxt:08d}"
    new_dir = os.path.join(base, name)
    write(new_dir)
    if not os.path.isdir(new_dir):
        raise RuntimeError(
            f"manifest_publish: writer produced no directory at {new_dir}"
        )
    # the atomic pointer flip: single-object replace (a PUT on an
    # object store); readers see either the old name or the new one
    tmp = os.path.join(base, CURRENT + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(name)
    os.replace(tmp, os.path.join(base, CURRENT))
    # retention: prune superseded versions beyond ``keep``
    superseded = [
        d for d in _version_dirs(base) if os.path.join(base, d) != new_dir
    ]
    for d in superseded[: max(0, len(superseded) - keep)]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    for f in os.listdir(base):
        p = os.path.join(base, f)
        if f == CURRENT or f.startswith(_VPREFIX):
            continue
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)
    return new_dir


def manifest_versions(base: str) -> list[int]:
    """Version numbers on disk, ascending — the live one plus whatever
    ``manifest_publish(keep=…)`` retention kept (the queryable
    time-travel window)."""
    return [int(d[len(_VPREFIX):]) for d in _version_dirs(base)]


def manifest_read(spark, base: str, version: int | None = None):
    """Snapshot read: the live version by default, or any RETAINED
    ``version`` — time travel over the publish history, the same
    pointer-plus-immutable-dirs mechanics Delta/Iceberg expose as
    ``VERSION AS OF``. Raises on a pruned/unknown version instead of
    silently reading the wrong data. Old versions are immutable, so a
    long scan of version N is consistent even while N+1 publishes."""
    if version is None:
        return spark.read.parquet(manifest_resolve(base))
    name = f"{_VPREFIX}{version:08d}"
    if name not in _version_dirs(base):
        raise ValueError(
            f"manifest_read: version {version} not on disk at {base!r} "
            f"(retained: {manifest_versions(base)}; raise "
            "manifest_publish(keep=…) to travel further back)"
        )
    return spark.read.parquet(os.path.join(base, name))


def manifest_recover(base: str) -> int:
    """Prune version directories NEWER than the live pointer (crashed
    publishes that never flipped) plus any stale pointer tmp file;
    returns the number of directories removed. Safe to run at startup;
    never touches the live version or retained older versions."""
    removed = 0
    if not os.path.isdir(base):
        return removed
    tmp = os.path.join(base, CURRENT + ".tmp")
    if os.path.exists(tmp):
        os.remove(tmp)
    cur = manifest_current(base)
    cur_name = os.path.basename(cur) if cur else None
    for d in _version_dirs(base):
        if cur_name is None or d > cur_name:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            removed += 1
    return removed
