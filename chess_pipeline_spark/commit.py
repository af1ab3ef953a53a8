"""The one commit protocol for every persisted table directory.

The reference loads each table with a keyed delete-then-insert inside
one PostgreSQL transaction (postgres_templates.py:160-214). Here every
persisted directory — the game ETL's upsert targets, the streaming
ledgers, the SCD2 dimension, the IVF lists and the BM25 postings,
doclens and stats — commits through this module instead, with renames
on the local filesystem.

Invariant: at every instant the live directory or its `<path>.__bak__`
sibling holds the full table, and the markers inside the live table
say which batches are in flight (`_folding_batches.json`) or already
folded (`_folded_batches.json`).

* ``replace_dir`` — write the new table to `<path>.__tmp__<hex>`,
  rename live → `.__bak__`, rename the tmp in, drop the .bak.
  Underscore `.json` sidecars of the live table (format stamps,
  markers) ride the swap unless the new table brings its own.
* ``recover`` — every writer's entry: a .bak without a live dir is a
  swap that crashed between its two renames, so the .bak is renamed
  back; a .bak beside a live dir and any `.__tmp__` sibling are
  garbage from crashed swaps and are removed. Readers never mutate;
  ``readable`` names whichever directory holds the table.
* ``folding`` — the one fold order for a fold that moves a batch's
  files in several steps: `_folding_batches.json` is written before
  the first move, `_folded_batches.json` after the last, and
  ``guard_ingest`` refuses a batch id listed in either.
* ``batch_ids`` / ``fold_batches`` — the one reading of the batch
  partition layout (`batch_id=N` or `ingest_batch=N` directories, at
  any depth): a batch is a partition directory that holds a data
  file, so a fold that crashed after its last move leaves no ghost
  batch behind; like Spark's reader, the listing skips hidden
  directories, so what a writer killed mid-job left under `_temporary`
  or `.spark-staging-*` is never a batch; a fold moves a batch's
  files, each prefixed `b{id}-`, out of its partition directory and
  re-roots them under the target.
* ``stamp`` / ``check_stamp`` — the one identity stamp (`_format.json`
  for index formats, `_target.json` for the DSIR target): a stamp
  naming another value refuses, unstamped data refuses, ingest stamps
  a fresh directory, a probe of a missing one defers to its reader.
* Every rename, file move and sidecar replace is one ``_rename``
  (``os.replace``), so each step is atomic and a crash can strike
  only between steps.

One writer per table at a time; local filesystem only — an object
store backend ports this module as a whole.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import warnings
from contextlib import contextmanager

BAK = ".__bak__"
TMP = ".__tmp__"
FOLDED = "_folded_batches.json"
FOLDING = "_folding_batches.json"
DIGESTS = "_folded_digests.json"
FORMAT = "_format.json"
TARGET = "_target.json"


def _rename(src: str, dst: str) -> None:
    """The single commit step every other function here is built on."""
    os.replace(src, dst)


def read_json(path: str, default=None):
    """A sidecar's payload, or ``default`` when the file is absent. A
    file that exists but does not parse raises: sidecars are only ever
    replaced whole, so unreadable bytes mean outside damage, and
    guessing an empty marker would disarm the guards built on it."""
    if not os.path.exists(path):
        return default
    try:
        with open(path) as fh:
            return json.load(fh)
    except ValueError as e:
        raise ValueError(f"unreadable sidecar {path}: {e}") from e


def write_json(path: str, payload) -> None:
    """Write the whole sidecar to `<path>.tmp`, then rename it over
    `path`: a reader sees the old payload or the new, never a torn one."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    _rename(tmp, path)


def read_folded(table_dir: str) -> set[int]:
    """Batch ids already folded into this table's base."""
    return set(read_json(os.path.join(table_dir, FOLDED), []))


def read_folding(table_dir: str) -> set[int]:
    """Batch ids a (possibly crashed) fold is moving into the base."""
    return set(read_json(os.path.join(table_dir, FOLDING), []))


def recover(path: str) -> None:
    """Writer entry: put back a table a crashed swap left only in its
    .bak, drop a .bak that sits beside a live table (the swap got past
    its second rename), and sweep stale `.__tmp__` siblings (a tmp is
    renamed in only after live moved to .bak, so any tmp seen here is
    garbage)."""
    bak = path + BAK
    if not os.path.exists(path) and os.path.exists(bak):
        _rename(bak, path)
    shutil.rmtree(bak, ignore_errors=True)
    parent, name = os.path.split(path)
    if os.path.isdir(parent or "."):
        for entry in os.listdir(parent or "."):
            if entry.startswith(name + TMP):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def readable(path: str) -> str:
    """The directory that holds the table for a reader: the live dir,
    or its .bak while a crashed swap awaits the next writer."""
    if not os.path.exists(path) and os.path.exists(path + BAK):
        return path + BAK
    return path


def replace_dir(path: str, write, sidecars: dict | None = None) -> None:
    """Atomically replace (or create) the table at ``path``:
    ``write(tmp)`` writes the new table, ``sidecars`` (name → JSON
    payload) land inside it, the live table's other underscore `.json`
    sidecars are carried over, then tmp → .bak → rename. Recovers on
    entry, so ``write`` must not read a .bak."""
    recover(path)
    tmp = f"{path}{TMP}{uuid.uuid4().hex[:8]}"
    write(tmp)
    for name, payload in (sidecars or {}).items():
        write_json(os.path.join(tmp, name), payload)
    bak = path + BAK
    if os.path.exists(path):
        for name in os.listdir(path):
            if (
                name.startswith("_")
                and name.endswith(".json")
                and not os.path.exists(os.path.join(tmp, name))
            ):
                shutil.copy(os.path.join(path, name), os.path.join(tmp, name))
        _rename(path, bak)
    _rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)


def _hidden(name: str) -> bool:
    """Underscore and dot names are not table content: stamps, markers,
    `_SUCCESS`, Hadoop `.crc` checksums, and the `_temporary` and
    `.spark-staging-*` directories a writer killed mid-job leaves.
    Spark's partition discovery skips them; so does every listing here."""
    return name.startswith(("_", "."))


def _walk(top: str):
    """os.walk of ``top`` that does not descend into hidden directories."""
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        yield dirpath, dirs, files


def _data_files(top: str):
    """(directory, name) of every data file under ``top`` — the files a
    parquet reader lists (no hidden name on the path below ``top``)."""
    for dirpath, _dirs, files in _walk(top):
        for name in files:
            if not _hidden(name):
                yield dirpath, name


def first_data_file(top: str) -> str | None:
    """Path of one data file under ``top`` (None when it holds none)."""
    for dirpath, name in _data_files(top):
        return os.path.join(dirpath, name)
    return None


def has_data(top: str) -> bool:
    """Whether any data file sits under ``top`` (False when absent)."""
    return first_data_file(top) is not None


def _partitions(root: str, col: str):
    """(id, path) of every `col=id` partition directory under ``root``,
    at whatever depth the layout puts the batch column."""
    for dirpath, dirs, _files in _walk(root):
        for d in [d for d in dirs if d.startswith(col + "=")]:
            dirs.remove(d)
            yield int(d[len(col) + 1 :]), os.path.join(dirpath, d)


def batch_ids(root: str, col: str) -> set[int]:
    """Ids of the `col=id` partitions under ``root`` that hold a data
    file — the values a distinct() over the column would return,
    without a Spark job. An emptied partition directory (what a fold
    leaves when it crashes after its last move) is not a batch."""
    return {bid for bid, path in _partitions(root, col) if has_data(path)}


def move_data_files(src_dir: str, dest_dir: str, prefix: str) -> None:
    """Rename every data file of ``src_dir`` into ``dest_dir`` as
    prefix+name, its Hadoop `.{name}.crc` checksum first (so local-fs
    verification stays intact). Each file is in exactly one of the two
    directories at any instant."""
    os.makedirs(dest_dir, exist_ok=True)
    for f in list(os.scandir(src_dir)):
        if f.is_file() and not _hidden(f.name):
            crc = os.path.join(src_dir, f".{f.name}.crc")
            if os.path.exists(crc):
                _rename(crc, os.path.join(dest_dir, f".{prefix}{f.name}.crc"))
            _rename(f.path, os.path.join(dest_dir, f"{prefix}{f.name}"))


def fold_batches(root: str, col: str, ids, dest: str) -> None:
    """Move the data files of each `col=id` partition under ``root``
    whose id is in ``ids`` to ``dest``: the `col=id` path component is
    dropped, the rest of the path is re-rooted under ``dest``, and each
    file is prefixed `b{id}-` so names stay unique — e.g.
    `root/list_id=3/ingest_batch=7/f` → `dest/list_id=3/b7-f`. The
    emptied partition directories are removed afterwards."""
    for bid, part in sorted(_partitions(root, col)):
        if bid not in ids:
            continue
        above = os.path.relpath(os.path.dirname(part), root)
        for src in sorted({d for d, _ in _data_files(part)}):
            below = os.path.relpath(src, part)
            move_data_files(
                src, os.path.normpath(os.path.join(dest, above, below)), f"b{bid}-"
            )
        shutil.rmtree(part)


def stamp(
    dir_path: str, value: str, *, sidecar: str = FORMAT, key: str = "format"
) -> None:
    """Write the identity stamp ``{key: value}`` into ``dir_path``
    (created if absent), replacing any old one — the build path, whose
    intent is a rebuild, so the stamp follows the new bytes."""
    os.makedirs(dir_path, exist_ok=True)
    write_json(os.path.join(dir_path, sidecar), {key: value})


def check_stamp(
    dir_path: str,
    value: str,
    what: str,
    *,
    sidecar: str = FORMAT,
    key: str = "format",
    fresh: bool = False,
) -> None:
    """Refuse a directory whose stamp names another ``value``, or that
    holds data files but no stamp (it cannot be verified). An
    unstamped directory without data passes: with ``fresh`` (the
    ingest path) it is stamped; without (the probe path) a missing
    table is left to fail in its reader as exactly that."""
    stored = read_json(os.path.join(dir_path, sidecar))
    fix = "rebuild it (delete the directory, then rebuild or replay into it)"
    if stored is not None:
        if stored.get(key) != value:
            raise ValueError(
                f"{what} at {dir_path} was written with "
                f"{key.replace('_', ' ')} {stored.get(key)!r}, but "
                f"{value!r} is expected — {fix}"
            )
    elif has_data(dir_path):
        raise ValueError(
            f"{what} at {dir_path} predates format stamping and cannot "
            f"be verified against {value!r} — {fix}"
        )
    elif fresh:
        stamp(dir_path, value, sidecar=sidecar, key=key)


@contextmanager
def folding(table_dir: str, batches):
    """Run a fold of ``batches`` into the table at ``table_dir`` in the
    one fold order: in-flight marker before the first move, folded
    marker after the last. Yields the set to fold — ``batches`` plus
    any a crashed fold left in flight, whose remaining moves the body
    finishes from the surviving files. Writes nothing when that set is
    empty; a body that raises leaves the batches marked in flight."""
    todo = set(batches) | read_folding(table_dir)
    if todo:
        write_json(os.path.join(table_dir, FOLDING), sorted(todo))
    yield todo
    if todo:
        write_json(
            os.path.join(table_dir, FOLDED),
            sorted(read_folded(table_dir) | todo),
        )
        os.remove(os.path.join(table_dir, FOLDING))


def guard_ingest(
    table_dir: str, batch_id: int, job: str, replay_digest=None
) -> bool:
    """The folded-id ingest guard, run at an ingest's entry; it
    recovers first, so a crashed swap cannot hide the markers. Raises for
    an id that is in flight — part of its rows may already sit in the
    base, out of reach of a partition overwrite — or already folded.
    The one exception: a folded id whose ``replay_digest()`` equals
    the digest its fold recorded in `_folded_digests.json` is the
    at-least-once replay of identical rows; returns True and the
    caller skips the write. Returns False for a fresh id."""
    recover(table_dir)
    if batch_id in read_folding(table_dir):
        raise ValueError(
            f"{job}: batch_id {batch_id} is mid-fold — a compaction "
            f"recorded it in {FOLDING} and may already have moved part "
            "of its rows into the base, so a replay would duplicate "
            "them. Re-run the compaction to finish the fold, then "
            "ingest new data under a fresh id."
        )
    folded = read_folded(table_dir)
    if batch_id not in folded:
        return False
    want = read_json(os.path.join(table_dir, DIGESTS), {}).get(str(batch_id))
    if want is not None and replay_digest is not None and replay_digest() == want:
        warnings.warn(
            f"{job}: batch_id {batch_id} replayed after compaction folded "
            "it, with identical content — skipping (the legitimate "
            "at-least-once replay shape).",
            stacklevel=3,
        )
        return True
    raise ValueError(
        f"{job}: batch_id {batch_id} was already folded into the base "
        f"(folded ids: {sorted(folded)}); a write under a folded id is "
        "dropped or double-counted. Never reuse batch ids against one "
        "table — if the stream's checkpoint was reset, resume ingest "
        f"with ids above {max(folded)}."
    )
