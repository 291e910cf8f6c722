"""The fold-commit protocol every persisted index shares.

Every persisted index pins its kind and model in the meta file
below, which its readers validate and take the model from — the
ANN indexes in ``similarity`` (IVF, IVF-PQ, LSH) included.  The
folded ones (``dedup_index``, ``retrieval_index``, ``sketch_index``,
the IVF index in ``similarity``) grow by FOLDS that
``streaming.fold_runner`` drives from ``foreachBatch``, which is
AT-LEAST-ONCE: a crash between a fold's writes and the stream's
checkpoint commit replays the batch.  This module owns every on-disk
decision that makes a replayed fold harmless — Spark's
``Sink.addBatch`` contract ("deduplicate on batchId for exactly-once")
applied to index directories:

    <path>/_cdp_index_meta.json        kind + params (validated on every
                                       load and fold), plus the default
                                       lineage's ``last_epoch`` watermark
    <path>/_watermark.<lineage>.json   {"last_epoch": N}, one file per
                                       labeled lineage
    <stat>/fold=base/                  root-level data moved aside by the
                                       first epoch fold
    <stat>/fold=[<lineage>-]e<N>/      one epoch fold, written in
                                       OVERWRITE mode

Replay rule: a fold writes its epoch directory in overwrite mode and
commits its lineage's watermark LAST, in one atomic JSON write; a fold
whose epoch is at or below that watermark is skipped.  A half-written
epoch therefore rewrites cleanly, and a committed one is never applied
twice.  :func:`fold_epoch` is that sequence; an index supplies only
its write function.

Lineages: epoch ids are monotone only within one checkpoint.  When
several streams (or a re-created checkpoint) fold into ONE index, each
passes a ``lineage`` tag that names its fold directories and its own
watermark file, so two lineages never share a read-modify-write.  The
default (untagged) lineage keeps its watermark in the meta: one stream
per index, nothing to race.

Every JSON file here is written by :func:`write_json_atomic` (temp +
rename), so a reader sees the old file or the new one, never a torn
one.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame

META_NAME = "_cdp_index_meta.json"
BASE = "base"
_WATERMARK_KEY = "last_epoch"
_WATERMARK_PREFIX = "_watermark."


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` through a temp file and an
    atomic rename; creates the parent directory."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _load_meta(path: str) -> dict:
    with open(os.path.join(path, META_NAME)) as f:
        return json.load(f)


def read_meta(path: str, *kinds: str) -> dict:
    """The index meta at ``path``; raises ValueError unless its kind is
    one of ``kinds`` (a fold must never mix incompatible indexes)."""
    meta = _load_meta(path)
    if meta.get("kind") not in kinds:
        expected = " or ".join(repr(k) for k in kinds)
        raise ValueError(
            f"index at {path} is kind={meta.get('kind')!r}, expected {expected}"
        )
    return meta


def write_meta(path: str, meta: dict) -> None:
    """Atomic meta write: the default lineage's watermark lives in the
    meta, so a crash mid-write must leave the previous meta intact."""
    write_json_atomic(os.path.join(path, META_NAME), meta)


# ------------------------------------------------------ fold directories


def lineage_label(lineage) -> str:
    """Validated lineage tag for fold-directory and watermark names.
    A LINEAGE names one checkpoint's epoch sequence: when SEVERAL
    ingest streams fold into one index each needs its own watermark
    and its own fold-directory namespace (two streams both at epoch 3
    must not overwrite each other)."""
    s = str(lineage)
    if not s or not all(c.isalnum() or c in "-_." for c in s):
        raise ValueError(
            f"lineage {lineage!r} must be a non-empty [alnum-_.] tag "
            "(it becomes a partition-directory component)"
        )
    return s


def fold_name(epoch, lineage=None) -> str:
    """``[<lineage>-]e<epoch>`` — one epoch fold's name."""
    prefix = "" if lineage is None else f"{lineage_label(lineage)}-"
    return f"{prefix}e{int(epoch)}"


def fold_dir_name(name: str) -> str:
    """The directory a fold named ``name`` (or :data:`BASE`) lives in.
    ``fold`` is a partition column to parquet discovery; readers drop
    it."""
    return f"fold={name}"


def epoch_fold_names(path: str) -> list[str]:
    """Sorted names of the epoch fold directories under ``path``
    (``fold=base`` excluded)."""
    if not os.path.isdir(path):
        return []
    return sorted(
        e.split("=", 1)[1]
        for e in os.listdir(path)
        if e.startswith("fold=") and e != fold_dir_name(BASE)
    )


def _has_fold_layout(stat_dir: str) -> bool:
    return os.path.isdir(stat_dir) and any(
        e.startswith("fold=") for e in os.listdir(stat_dir)
    )


def migrate_to_fold_layout(stat_dir: str) -> None:
    """Move a stat directory's root-level data files into
    ``fold=base/`` so epoch folds can coexist with them (parquet
    partition discovery rejects mixed depths)."""
    if not os.path.isdir(stat_dir):
        return
    entries = [
        e
        for e in os.listdir(stat_dir)
        if not e.startswith(("fold=", "_", "."))
    ]
    if not entries:
        return
    base = os.path.join(stat_dir, fold_dir_name(BASE))
    os.makedirs(base, exist_ok=True)
    for e in entries:
        os.replace(os.path.join(stat_dir, e), os.path.join(base, e))


def fold_write(df: DataFrame, stat_dir: str, epoch, lineage=None) -> None:
    """Write one DELTA stat table for a fold.  ``epoch=None`` appends
    (at the root of a root-layout stat directory, into ``fold=base``
    of a migrated one); an integer epoch overwrites its own
    ``fold=[<lineage>-]e<epoch>`` directory — the idempotent replay
    path."""
    if epoch is None:
        if _has_fold_layout(stat_dir):
            stat_dir = os.path.join(stat_dir, fold_dir_name(BASE))
        df.write.mode("append").parquet(stat_dir)
        return
    target = os.path.join(stat_dir, fold_dir_name(fold_name(epoch, lineage)))
    migrate_to_fold_layout(stat_dir)
    df.write.mode("overwrite").parquet(target)


# ------------------------------------------------------------ watermarks


def _watermark_path(path: str, lineage) -> str:
    return os.path.join(
        path, f"{_WATERMARK_PREFIX}{lineage_label(lineage)}.json"
    )


def already_committed(path: str, meta: dict, epoch, lineage=None) -> bool:
    """True when the lineage's watermark says this epoch's fold fully
    committed, so its replay skips.  ``meta`` is the index meta the
    caller just read; ``epoch=None`` (an unkeyed append) is never
    committed."""
    if epoch is None:
        return False
    if lineage is None:
        last = meta.get(_WATERMARK_KEY)
    else:
        sidecar = _watermark_path(path, lineage)
        last = None
        if os.path.isfile(sidecar):
            with open(sidecar) as f:
                last = json.load(f)[_WATERMARK_KEY]
    return last is not None and int(epoch) <= int(last)


def commit_epoch(path: str, meta: dict, epoch, lineage=None) -> None:
    """Commit the lineage's watermark at ``epoch`` — the LAST write of
    a fold.  No-op for ``epoch=None``."""
    if epoch is None:
        return
    if lineage is None:
        meta[_WATERMARK_KEY] = int(epoch)
        write_meta(path, meta)
    else:
        write_json_atomic(
            _watermark_path(path, lineage), {_WATERMARK_KEY: int(epoch)}
        )


def fold_epoch(path: str, kind: str, epoch, lineage, write):
    """Run one fold in the replay-safe order: read the ``kind`` meta,
    skip an epoch the lineage already committed (returns None), run
    ``write(meta)`` — every data and sidecar write of the fold — and
    commit the watermark LAST.  Returns what ``write`` returned.
    :func:`already_committed` and :func:`commit_epoch` are looked up
    at call time, so a test can patch either."""
    meta = read_meta(path, kind)
    if already_committed(path, meta, epoch, lineage):
        return None
    out = write(meta)
    commit_epoch(path, meta, epoch, lineage)
    return out


def watermarks(path: str) -> dict:
    """Every lineage's committed watermark at ``path``:
    ``{lineage: epoch}``, the default lineage under ``None``."""
    marks: dict = {}
    for entry in os.listdir(path):
        if entry.startswith(_WATERMARK_PREFIX) and entry.endswith(".json"):
            with open(os.path.join(path, entry)) as f:
                lineage = entry[len(_WATERMARK_PREFIX):-len(".json")]
                marks[lineage] = int(json.load(f)[_WATERMARK_KEY])
    last = _load_meta(path).get(_WATERMARK_KEY)
    if last is not None:
        marks[None] = int(last)
    return marks


def restore_watermarks(path: str, meta: dict, marks: dict) -> None:
    """Give a rebuilt index at ``path`` the watermarks ``marks`` (from
    :func:`watermarks`): labeled lineages' files are written now, the
    default lineage's goes into ``meta``, which the caller writes last
    as the rebuild's commit mark."""
    for lineage, epoch in marks.items():
        if lineage is None:
            meta[_WATERMARK_KEY] = int(epoch)
        else:
            write_json_atomic(
                _watermark_path(path, lineage), {_WATERMARK_KEY: int(epoch)}
            )


@contextlib.contextmanager
def exclusive_lock(lock: str, why: str):
    """Hold the O_EXCL lock file ``lock`` (holder pid inside) for the
    body; a second writer fails loudly instead of waiting or racing.
    ``why`` says what the lock prevents.  A crashed holder leaves the
    file behind, and the error names it for manual removal."""
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another writer holds {lock} — {why}.  If that writer "
            "crashed, remove the lock file and re-run."
        ) from None
    try:
        os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)
