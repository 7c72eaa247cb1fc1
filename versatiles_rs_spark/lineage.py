"""Checkpointed tile writes with per-partition lineage — the resumability
contract (BASELINE.json: "per-partition lineage + row-count/byte metrics
committed ... per tile-batch snapshot; killed job resumes from last
committed snapshot").

Iceberg's catalog is not available in this container, so the same table
format *shape* is implemented over plain parquet — snapshot log, manifest
of data files with per-file statistics, atomic commit pointer:

    <table>/data/batch=<batch_id>/*.parquet   tile rows of one batch
    <table>/_lineage/batch=<batch_id>.json    per-batch + per-FILE metrics
    <table>/_snapshots/v<N>.json              snapshot N: parent pointer,
                                              operation summary, data-file
                                              manifest (path, rows, bytes,
                                              z/x/y bounds per file)
    <table>/_manifest.json                    commit pointer: committed
                                              batches + current snapshot id
                                              (written via tmp+rename)

The protocol mirrors Iceberg's commit semantics: data files first, then
the immutable snapshot file, then the single atomic pointer swap — a
writer killed at any step leaves the table readable at its previous
snapshot, and orphaned data/snapshot files are invisible. Each batch
commit = one snapshot, so ``read_tiles(..., as_of=N)`` time-travels to any
earlier state, and ``plan_files`` prunes data files from manifest-recorded
z/x/y bounds WITHOUT opening them (Iceberg-style metadata pruning — at
100 TB the driver plans from kilobytes of manifests, never from the data).

One commit path (``_resume``) serves tile and key batches, and one call
runs one Spark job whatever its batch count (plus the shuffle map stages
of its input, such as the render's):

1. the job (``_stage``) renders the input and writes it in the same
   pass: each task groups its Arrow batches by batch id, drops the rows
   of committed and unplanned batches, writes each remaining batch's
   rows with pyarrow into <table>/_staging/<call id>/batch=<id>/, and
   returns one row per file (path, row count, tile/text byte sum, tile
   x/y bounds);
2. every reported file's footer row count must equal its reported count
   before anything commits;
3. each batch commits in static plan order (``_commit``): its
   uncommitted leftovers in data/batch=<id>/ go, the files reported for
   it move there (a committed batch's directory is never touched), then
   the lineage record with per-file footer stats, the snapshot and the
   atomic manifest swap — from one read of the manifest per call.

The staging directory goes at the end of the call, failed or not, and at
the start of the next, so a file that was never reported (the output of a
failed task attempt) never reaches data/.

Tile batches are the static plan's uncommitted blocks that hold tiles,
so batch ids, commit order and ``as_of`` semantics do not depend on the
data, and empty blocks commit nothing (at z0-14 with 64x64 blocks the
static plan has 87,387 blocks, nearly all empty); key batches commit
even when empty, with no file.

Concurrency contract: SINGLE WRITER (the Spark driver is the committer,
exactly like the reference's one convert process) — the manifest swap is
a read-modify-rename, so two concurrent writers could drop each other's
batch entry. Multi-writer needs a compare-and-swap on the manifest (a
conditional put on object stores); readers are always safe at any
committed snapshot.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType


@dataclass(frozen=True)
class TileBatch:
    """One resumable work unit: a zoom + tile-coordinate block."""

    z: int
    x_block: int
    y_block: int
    block_bits: int = 6  # 64x64-tile blocks, versatiles block model analog

    @property
    def batch_id(self) -> str:
        return f"z{self.z}_x{self.x_block}_y{self.y_block}"

    @property
    def lineage(self) -> dict:
        return {"z": self.z, "x_block": self.x_block, "y_block": self.y_block}


def plan_batches(min_zoom: int, max_zoom: int, block_bits: int = 6) -> list[TileBatch]:
    """All batches of a pyramid: at zoom z there are ceil(2^z / 2^bits)^2
    blocks (1 block per zoom until 2^z > block size)."""
    out = []
    for z in range(min_zoom, max_zoom + 1):
        nblocks = max(1, 1 << max(0, z - block_bits))
        for bx in range(nblocks):
            for by in range(nblocks):
                out.append(TileBatch(z, bx, by, block_bits))
    return out


def _manifest_path(table: str) -> str:
    return os.path.join(table, "_manifest.json")


def read_manifest(table: str) -> dict:
    p = _manifest_path(table)
    if not os.path.exists(p):
        return {"batches": {}, "current_snapshot": 0}
    with open(p) as f:
        m = json.load(f)
    m.setdefault("current_snapshot", len(m["batches"]))
    return m


def _commit_manifest(table: str, manifest: dict) -> None:
    tmp = _manifest_path(table) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(table))  # atomic rename = the commit


def resume_plan(table: str, batches: list[TileBatch]) -> list[TileBatch]:
    """Batches still to do: desired minus committed."""
    done = set(read_manifest(table)["batches"])
    return [b for b in batches if b.batch_id not in done]


def _parquet_stats(path: str) -> dict:
    """One data file's statistics straight from its parquet footer: row
    count, on-disk size, and z/x/y min/max — the manifest entry pruning
    plans from. No row is read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    bounds: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            cname = col.path_in_schema
            if cname in ("z", "x", "y") and col.statistics is not None:
                lo, hi = col.statistics.min, col.statistics.max
                if cname in bounds:
                    bounds[cname] = [min(bounds[cname][0], lo), max(bounds[cname][1], hi)]
                else:
                    bounds[cname] = [lo, hi]
    return {
        "path": path,
        "rows": md.num_rows,
        "file_bytes": os.path.getsize(path),
        **{f"{c}_min": bounds[c][0] for c in bounds},
        **{f"{c}_max": bounds[c][1] for c in bounds},
    }


def _file_stats(data_dir: str) -> list[dict]:
    """``_parquet_stats`` of every parquet file in ``data_dir``, by name;
    a missing directory has no files."""
    if not os.path.isdir(data_dir):
        return []
    names = sorted(n for n in os.listdir(data_dir) if n.endswith(".parquet"))
    return [_parquet_stats(os.path.join(data_dir, n)) for n in names]


def _read_snapshot(table: str, sid: int) -> dict:
    with open(os.path.join(table, "_snapshots", f"v{sid}.json")) as f:
        return json.load(f)


# a data file's directory: batch=<id>, or the batch=<id>_r<sid> /
# batch=<id>_m<sid> rewrites of that batch by compact_batch / merge_upsert
_BATCH_DIR = re.compile(r"batch=(.+?)(?:_[rm]\d+)?")


def _batch_files(files: list[dict], batch_ids: set[str]) -> list[dict]:
    """The data files of ``batch_ids``, rewrites included. The whole
    directory name must match, so batch=b1 never takes batch=b10."""
    def batch(path: str) -> str | None:
        m = _BATCH_DIR.fullmatch(os.path.basename(os.path.dirname(path)))
        return m and m.group(1)

    return [f for f in files if batch(f["path"]) in batch_ids]


def _n_buckets(manifest: dict, table: str) -> int:
    """The bucket count of a keyed table (batch ids k<bucket>of<n>)."""
    keyed = [b for b in manifest["batches"] if b.startswith("k")]
    if not keyed:
        raise ValueError(f"{table} has no keyed batches")
    return int(keyed[0].split("of")[1])


def _tile_key(block_bits: int) -> Column:
    """The batch id of each tile row: its z/x/y block."""
    return F.format_string(
        "z%d_x%d_y%d", "z", F.shiftright("x", block_bits), F.shiftright("y", block_bits)
    )


def write_batch(table: str, batch: TileBatch, tiles: DataFrame) -> dict | None:
    """Write and commit one tile batch: the rows of ``tiles`` in the
    batch's z/x/y block, with their row and byte counts and x/y bounds.
    Returns the lineage record, or None when the batch is committed
    already or its block holds no tiles (an empty block commits nothing).

    A one-batch call of the commit path, so ``tiles`` is rendered once
    per call; a caller writing batches itself should cache ``tiles``
    first (``convert_resumable`` writes all of them at once)."""
    recs = _resume(tiles, table, [batch], _tile_key(batch.block_bits), "tile", ("x", "y"))
    return recs[0] if recs else None


@dataclass(frozen=True)
class KeyBatch:
    """One resumable work unit of a keyed (non-tile) table: a stable hash
    bucket of the key column — the doc-corpus analog of TileBatch."""

    bucket: int
    n_buckets: int

    @property
    def batch_id(self) -> str:
        return f"k{self.bucket}of{self.n_buckets}"

    @property
    def lineage(self) -> dict:
        return {"bucket": self.bucket, "n_buckets": self.n_buckets}


def plan_key_batches(n_buckets: int) -> list[KeyBatch]:
    return [KeyBatch(b, n_buckets) for b in range(n_buckets)]


def _bucket_key(key_col: str, n_buckets: int) -> Column:
    """The batch id of each keyed row: bucket = pmod(xxhash64(key), n) is
    stable across runs, so a resumed job re-derives identical buckets."""
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    return F.format_string("k%dof%d", bucket, F.lit(n_buckets))


def write_key_batch(
    table: str,
    batch: KeyBatch,
    df: DataFrame,
    key_col: str = "doc_id",
    bytes_col: str = "text",
) -> dict | None:
    """Write and commit one hash bucket of a keyed table (empty or not);
    None when the bucket is committed already."""
    key = _bucket_key(key_col, batch.n_buckets)
    recs = _resume(df, table, [batch], key, bytes_col, commit_empty=True)
    return recs[0] if recs else None


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def _commit_snapshot(table: str, manifest: dict, snapshot: dict) -> None:
    """The last two steps of every commit: write the immutable snapshot
    file (tmp + rename), then swap the manifest pointer to it."""
    sid = snapshot["snapshot_id"]
    snap_dir = os.path.join(table, "_snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f"v{sid}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(snapshot, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(snap_dir, f"v{sid}.json"))
    manifest["current_snapshot"] = sid
    _commit_manifest(table, manifest)


# each row's batch id, a column of the frame the write job reads
_BATCH = "batch"
# a commit call's staged files: <table>/_staging/<call id>/batch=<id>/
_STAGING = "_staging"
# Arrow bytes of rows a write task buffers before it writes one more part
# file, so a task's memory stays bounded whatever its partition's size
_FLUSH_BYTES = 64 << 20


def _stage(
    keyed: DataFrame, staging: str, todo: frozenset, bytes_col: str, bounds: tuple[str, ...]
) -> list[dict]:
    """The one Spark job of a commit call: ``keyed``, with its ``_BATCH``
    column, computed and written in the same pass. Each task groups its
    Arrow batches by batch id, drops the rows of batches not in ``todo``
    and writes each batch's rows with pyarrow to
    ``staging``/batch=<id>/part-<partition>-<attempt>-<n>.parquet. When a
    task buffers more than ``_FLUSH_BYTES``, its largest batch goes to one
    more part file; a task has one writer open at a time.

    Returns one row per written file: batch id, path, row count, the byte
    sum of ``bytes_col`` with Spark's ``length`` semantics (characters of
    a string, bytes of a binary, 0 when every value is null) and the
    min/max of each column in ``bounds``."""
    kind = keyed.schema[bytes_col].dataType
    if not isinstance(kind, (StringType, BinaryType)):
        raise TypeError(f"{bytes_col!r} must be a string or binary column, not {kind.simpleString()}")
    chars = isinstance(kind, StringType)
    budget = _FLUSH_BYTES
    stats = ["row_count", "bytes", *[f"{c}_{f}" for c in bounds for f in ("min", "max")]]
    schema = StructType(
        [StructField(_BATCH, StringType()), StructField("path", StringType())]
        + [StructField(s, LongType()) for s in stats]
    )

    def write(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        out = pa.schema([(_BATCH, pa.string()), ("path", pa.string())] + [(s, pa.int64()) for s in stats])
        ctx = TaskContext.get()
        stem = f"part-{ctx.partitionId():05d}-{ctx.attemptNumber()}"
        held: dict[str, list] = {}  # batch id -> buffered row tables
        size: dict[str, int] = {}
        n_files = 0

        def flush(bid: str):
            nonlocal n_files
            t = pa.concat_tables(held.pop(bid))
            del size[bid]
            path = os.path.join(staging, f"{_BATCH}={bid}", f"{stem}-{n_files:04d}.parquet")
            n_files += 1
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(t, path)
            length = (pc.utf8_length if chars else pc.binary_length)(t.column(bytes_col))
            row = {_BATCH: bid, "path": path, "row_count": t.num_rows,
                   "bytes": pc.sum(length, min_count=0).as_py()}
            for c in bounds:
                lo_hi = pc.min_max(t.column(c))
                row[f"{c}_min"], row[f"{c}_max"] = lo_hi["min"].as_py(), lo_hi["max"].as_py()
            return pa.RecordBatch.from_pylist([row], schema=out)

        for rb in batches:
            if not rb.num_rows:
                continue
            ids = rb.column(_BATCH).dictionary_encode()
            codes = ids.indices.to_numpy()
            order = np.argsort(codes, kind="stable")
            ends = np.cumsum(np.bincount(codes, minlength=len(ids.dictionary))).tolist()
            rows = pa.Table.from_batches([rb]).drop_columns([_BATCH])
            start = 0
            for bid, end in zip(ids.dictionary.to_pylist(), ends):
                if bid in todo:  # a copy, so the rows held own their buffers
                    part = rows.take(order[start:end])
                    held.setdefault(bid, []).append(part)
                    size[bid] = size.get(bid, 0) + part.nbytes
                start = end
            while sum(size.values()) > budget:
                yield flush(max(size, key=size.get))
        for bid in sorted(held):
            yield flush(bid)

    return [r.asDict() for r in keyed.mapInArrow(write, schema).collect()]


def _fold(stat: str, a, b):
    """Two files' values of one batch statistic, combined."""
    if a is None or b is None:
        return b if a is None else a
    if stat.endswith("_min"):
        return min(a, b)
    return max(a, b) if stat.endswith("_max") else a + b


def _commit(
    table: str, manifest: dict, batch: TileBatch | KeyBatch, stats: dict, files: list[dict]
) -> dict:
    """Commit one written batch: the lineage record with its ``files``'
    footer stats, the snapshot, then the atomic manifest swap."""
    lineage = {
        "batch_id": batch.batch_id,
        **batch.lineage,
        **stats,
        "committed_at": _now(),
        "n_files": len(files),
        "files": files,
    }
    os.makedirs(os.path.join(table, "_lineage"), exist_ok=True)
    with open(os.path.join(table, "_lineage", f"batch={batch.batch_id}.json"), "w") as f:
        json.dump(lineage, f, indent=1, sort_keys=True)

    parent = manifest["current_snapshot"]
    sid = parent + 1
    manifest["batches"][batch.batch_id] = {
        "row_count": lineage["row_count"],
        "bytes": lineage["bytes"],
        "committed_at": lineage["committed_at"],
        "snapshot_id": sid,
    }
    snapshot = {
        "snapshot_id": sid,
        "parent_id": parent if parent > 0 else None,
        "operation": "append",
        "batch_id": batch.batch_id,
        "committed_at": lineage["committed_at"],
        "summary": {
            "added_rows": lineage["row_count"],
            "added_tile_bytes": lineage["bytes"],
            "added_files": len(files),
        },
        "files": files,
        "removed": [],
    }
    _commit_snapshot(table, manifest, snapshot)
    return lineage


def _resume(
    df: DataFrame,
    table: str,
    batches: list,
    key: Column,
    bytes_col: str,
    bounds: tuple[str, ...] = (),
    commit_empty: bool = False,
) -> list[dict]:
    """The one commit path of tile and key batches: commit each of
    ``batches`` not yet committed to ``table``, in plan order, in one
    Spark job whatever their count. ``key`` is each row's batch id.

    The job (``_stage``) writes the rows of the uncommitted batches to a
    staging directory of this call and reports each file's stats. Every
    reported file's footer must hold the reported row count, or nothing
    commits. Then each batch in plan order replaces its uncommitted
    leftovers in data/batch=<id>/ with its reported files and commits
    with their summed stats, from one read of the manifest; a batch
    without rows commits (with no file) only when ``commit_empty``. The
    staging directory goes at the end, failed or not, and at the start of
    the next call (single writer); a kill at any step leaves the last
    committed snapshot intact."""
    if _BATCH in df.columns:
        raise ValueError(f"a committed frame may not have a {_BATCH!r} column")
    os.makedirs(table, exist_ok=True)
    manifest = read_manifest(table)
    todo = [b for b in batches if b.batch_id not in manifest["batches"]]
    if not todo:
        return []
    staging = os.path.join(table, _STAGING)
    shutil.rmtree(staging, ignore_errors=True)  # what a killed call staged
    try:
        staged = _stage(
            df.withColumn(_BATCH, key),
            os.path.join(staging, uuid.uuid4().hex),
            frozenset(b.batch_id for b in todo),
            bytes_col,
            bounds,
        )
        files: dict[str, list[dict]] = {}
        stats: dict[str, dict] = {}
        for row in staged:
            bid, footer = row.pop(_BATCH), _parquet_stats(row.pop("path"))
            if footer["rows"] != row["row_count"]:
                raise RuntimeError(
                    f"{footer['path']} holds {footer['rows']} rows, its task reported "
                    f"{row['row_count']}: nothing committed"
                )
            files.setdefault(bid, []).append(footer)
            old = stats.get(bid, {})
            stats[bid] = {s: _fold(s, old.get(s), v) for s, v in row.items()}
        recs, empty = [], {"row_count": 0, "bytes": 0}
        for b in todo:
            data = os.path.join(table, "data", f"{_BATCH}={b.batch_id}")
            shutil.rmtree(data, ignore_errors=True)  # an uncommitted batch's leftovers
            moved = sorted(files.get(b.batch_id, []), key=lambda f: os.path.basename(f["path"]))
            if moved:
                os.makedirs(data)
            for f in moved:
                path = os.path.join(data, os.path.basename(f["path"]))
                os.replace(f["path"], path)
                f["path"] = path
            if moved or commit_empty:
                recs.append(_commit(table, manifest, b, stats.get(b.batch_id, empty), moved))
        return recs
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def convert_resumable(
    tiles: DataFrame,
    table: str,
    min_zoom: int,
    max_zoom: int,
    block_bits: int = 6,
) -> list[dict]:
    """Run (or resume) a whole-pyramid write; re-invoking after a kill
    skips every committed batch. The batches are the static plan's blocks
    that hold tiles, committed in plan order; empty blocks commit no
    snapshot. The pyramid is rendered once per call, and the call runs
    one write job whatever its batch count."""
    batches = plan_batches(min_zoom, max_zoom, block_bits)
    return _resume(tiles, table, batches, _tile_key(block_bits), "tile", ("x", "y"))


def keyed_resumable(
    df: DataFrame,
    table: str,
    n_buckets: int = 16,
    key_col: str = "doc_id",
    bytes_col: str = "text",
) -> list[dict]:
    """Run (or resume) a keyed-table write bucket-by-bucket — the
    curation-pipeline counterpart of convert_resumable, on the same
    commit path. Every bucket commits, empty or not. Refuses to
    resume a table committed with a different bucket count (the
    bucket->batch mapping would no longer line up and rows would
    duplicate)."""
    done = set(read_manifest(table)["batches"])
    stale = {b for b in done if b.startswith("k") and not b.endswith(f"of{n_buckets}")}
    if stale:
        raise ValueError(
            f"{table} has batches {sorted(stale)} from a different n_buckets; "
            f"resume must reuse the original bucket count"
        )
    key = _bucket_key(key_col, n_buckets)
    return _resume(df, table, plan_key_batches(n_buckets), key, bytes_col, commit_empty=True)


def plan_files(
    table: str,
    as_of: int | None = None,
    z: tuple[int, int] | None = None,
    x: tuple[int, int] | None = None,
    y: tuple[int, int] | None = None,
) -> list[dict]:
    """Data files of snapshot ``as_of`` (default: current), pruned by the
    manifest-recorded per-file z/x/y bounds. Metadata-only: the plan is
    built from kilobytes of JSON, no parquet footer or row is touched."""
    manifest = read_manifest(table)
    current = manifest["current_snapshot"]
    sid = current if as_of is None else as_of
    if sid > current:
        raise ValueError(f"snapshot {sid} does not exist (current is {current})")
    min_snap = manifest.get("min_snapshot", 1)
    if as_of is not None and sid < min_snap and sid != current:
        raise ValueError(
            f"snapshot {sid} expired (oldest retained is {min_snap}); "
            "its data files may have been garbage-collected"
        )
    files_by_path: dict[str, dict] = {}
    for s in range(1, sid + 1):
        snap = _read_snapshot(table, s)
        for path in snap.get("removed", []):
            files_by_path.pop(path, None)
        for f in snap["files"]:
            files_by_path[f["path"]] = f
    files = list(files_by_path.values())

    def keep(f: dict) -> bool:
        for name, rng in (("z", z), ("x", x), ("y", y)):
            if rng is None:
                continue
            lo, hi = f.get(f"{name}_min"), f.get(f"{name}_max")
            if lo is None or hi < rng[0] or lo > rng[1]:
                return False
        return True

    return [f for f in files if f["rows"] > 0 and keep(f)]


def read_tiles(
    spark: SparkSession,
    table: str,
    as_of: int | None = None,
    z: tuple[int, int] | None = None,
    x: tuple[int, int] | None = None,
    y: tuple[int, int] | None = None,
) -> DataFrame:
    """Read exactly the committed files (uncommitted data from a crashed
    writer is invisible). ``as_of`` time-travels to an earlier snapshot;
    z/x/y ranges prune files from manifest stats before Spark opens any."""
    files = plan_files(table, as_of=as_of, z=z, x=x, y=y)
    if not files:
        raise ValueError(f"no committed data in {table} for the requested slice")
    # mergeSchema: after an ADD-COLUMN merge commit, untouched buckets
    # keep their original files — the union schema applies, old rows NULL
    return spark.read.option("mergeSchema", "true").parquet(*[f["path"] for f in files])


def compact_batch(
    spark: SparkSession, table: str, batch_id: str, target_files: int = 1
) -> dict:
    """Rewrite one batch's data files into ``target_files`` larger ones and
    commit the rewrite as a REPLACE snapshot (Iceberg's rewrite_data_files
    analog). Readers at the current snapshot see the compacted files;
    earlier snapshots still see the originals until they are expired —
    the commit order (write data, write snapshot, swap pointer) keeps a
    crash at any step readable."""
    manifest = read_manifest(table)
    if batch_id not in manifest["batches"]:
        raise ValueError(f"unknown batch {batch_id!r}")
    old = _batch_files(plan_files(table), {batch_id})
    if not old:
        raise ValueError(f"batch {batch_id!r} has no live files")
    sid = manifest["current_snapshot"] + 1
    out_dir = os.path.join(table, "data", f"batch={batch_id}_r{sid}")
    df = spark.read.parquet(*[f["path"] for f in old])
    df.coalesce(target_files).write.mode("overwrite").parquet(out_dir)
    files = _file_stats(out_dir)
    snapshot = {
        "snapshot_id": sid,
        "parent_id": manifest["current_snapshot"],
        "operation": "replace",
        "batch_id": batch_id,
        "committed_at": _now(),
        "summary": {
            "added_rows": sum(f["rows"] for f in files),
            "added_tile_bytes": 0,
            "added_files": len(files),
            "removed_files": len(old),
        },
        "files": files,
        "removed": [f["path"] for f in old],
    }
    _commit_snapshot(table, manifest, snapshot)
    return {"snapshot_id": sid, "files_before": len(old), "files_after": len(files)}


def expire_snapshots(table: str, keep_last: int = 1) -> dict:
    """Garbage-collect history: keep the last ``keep_last`` snapshots
    readable, physically delete data files only referenced by older ones
    (files added then removed before the retention horizon). Snapshot
    JSONs are kept — they are kilobytes and the add/remove replay needs
    them — but expired ``as_of`` reads fail fast via ``min_snapshot``."""
    manifest = read_manifest(table)
    current = manifest["current_snapshot"]
    horizon = max(1, current - keep_last + 1)
    old_min = manifest.get("min_snapshot", 1)
    if horizon <= old_min:
        return {"deleted_files": 0, "min_snapshot": old_min}
    # replay up to the horizon: anything removed by then is dead in every
    # retained snapshot
    added: dict[str, int] = {}
    dead: list[str] = []
    for s in range(1, horizon + 1):
        snap = _read_snapshot(table, s)
        for path in snap.get("removed", []):
            if path in added:
                dead.append(path)
                del added[path]
        for f in snap["files"]:
            added[f["path"]] = s
    deleted = 0
    for path in dead:
        if os.path.exists(path):
            os.remove(path)
            deleted += 1
    manifest["min_snapshot"] = horizon
    _commit_manifest(table, manifest)
    return {"deleted_files": deleted, "min_snapshot": horizon}


def snapshots_table(spark: SparkSession, table: str) -> DataFrame:
    """Snapshot history (id, parent, operation, summary) as a DataFrame —
    the Iceberg ``.snapshots`` metadata-table analog."""
    current = read_manifest(table)["current_snapshot"]
    rows = []
    for s in range(1, current + 1):
        snap = _read_snapshot(table, s)
        rows.append(
            (
                snap["snapshot_id"],
                snap["parent_id"],
                snap["operation"],
                snap["batch_id"],
                snap["committed_at"],
                snap["summary"]["added_rows"],
                snap["summary"]["added_tile_bytes"],
                snap["summary"]["added_files"],
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, operation string, batch_id string, "
        "committed_at string, added_rows long, added_tile_bytes long, added_files long",
    )


def lineage_table(spark: SparkSession, table: str) -> DataFrame:
    """The FIXTURES.md §7 lineage table as a DataFrame."""
    d = os.path.join(table, "_lineage")
    return spark.read.option("multiLine", "true").json(f"{d}/batch=*.json")


def merge_upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_col: str = "doc_id",
    deletes: DataFrame | None = None,
) -> dict:
    """Copy-on-write MERGE (Iceberg ``MERGE INTO`` analog) on a keyed
    table written by ``keyed_resumable``: update rows replace same-key
    rows, new keys append, ``deletes`` keys disappear — in ONE commit.

    Scale shape: only the hash buckets that contain touched keys are
    rewritten (bucket = the file-group unit, exactly the granularity the
    resumable writer committed); untouched buckets keep their files, so
    a 100 TB table absorbs a small merge by rewriting |touched buckets|,
    not the table. The touched-bucket set is a bounded collect
    (<= n_buckets rows). Commit = data files first, one immutable
    "merge" snapshot listing added+removed files, then the atomic
    pointer swap — crash anywhere leaves the previous snapshot readable
    and the half-written rewrite dirs invisible.

    ``updates`` must be key-unique (checked — a multi-matching MERGE is
    ambiguous, the same error Iceberg raises).
    """
    manifest = read_manifest(table)
    n_buckets = _n_buckets(manifest, table)

    n_upd, n_keys = updates.select(
        F.count(F.lit(1)), F.count_distinct(F.col(key_col))
    ).first()
    if n_upd != n_keys:
        raise ValueError(f"updates not key-unique: {n_upd} rows, {n_keys} keys")

    bucket_of = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    touched_keys = updates.select(key_col)
    if deletes is not None:
        touched_keys = touched_keys.unionByName(deletes.select(key_col))
    touched = sorted(
        r[0] for r in touched_keys.select(bucket_of.alias("b")).distinct().collect()
    )

    current_files = plan_files(table)
    sid = manifest["current_snapshot"] + 1
    added, removed, out_rows = [], [], 0
    for b in touched:
        old = _batch_files(current_files, {f"k{b}of{n_buckets}"})
        upd_b = updates.filter(bucket_of == b)
        if old:
            old_df = spark.read.parquet(*[f["path"] for f in old])
            keep = old_df.join(
                F.broadcast(touched_keys.filter(bucket_of == b).distinct()),
                on=key_col,
                how="left_anti",
            )
            # allowMissingColumns = Iceberg-style ADD-COLUMN schema
            # evolution: updates may carry new columns (old rows get
            # NULL), and must still carry every old column.
            missing = set(old_df.columns) - set(upd_b.columns)
            if missing:
                raise ValueError(f"updates missing table columns {sorted(missing)}")
            merged = keep.unionByName(upd_b, allowMissingColumns=True)
        else:
            merged = upd_b
        out_dir = os.path.join(table, "data", f"batch=k{b}of{n_buckets}_m{sid}")
        merged.write.mode("overwrite").parquet(out_dir)
        files = _file_stats(out_dir)
        added.extend(files)
        removed.extend(f["path"] for f in old)
        out_rows += sum(f["rows"] for f in files)

    snapshot = {
        "snapshot_id": sid,
        "parent_id": manifest["current_snapshot"],
        "operation": "merge",
        "committed_at": _now(),
        "summary": {
            "added_rows": out_rows,
            "added_tile_bytes": 0,
            "added_files": len(added),
            "removed_files": len(removed),
            "touched_buckets": touched,
        },
        "files": added,
        "removed": removed,
    }
    _commit_snapshot(table, manifest, snapshot)
    return {
        "snapshot_id": sid,
        "touched_buckets": touched,
        "rewritten_files": len(removed),
    }


def read_keyed(
    spark: SparkSession,
    table: str,
    keys: list,
    key_col: str = "doc_id",
    as_of: int | None = None,
) -> DataFrame:
    """Point lookups on a keyed table: read ONLY the hash buckets that
    can contain the requested keys (the doc-corpus analog of the
    containers' O(1) tile lookup — at 100 TB a 5-doc fetch opens
    |distinct buckets| <= 5 directories, never scans the corpus).

    Bucket ids are re-derived with the same xxhash64 the writer used
    (computed through Spark so the hash is bit-identical), then
    plan_files output is filtered to those buckets and the usual
    key filter applies on top.
    """
    n_buckets = _n_buckets(read_manifest(table), table)
    kdf = spark.createDataFrame([(k,) for k in keys], f"{key_col} bigint")
    buckets = {
        r[0]
        for r in kdf.select(
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        ).collect()
    }

    files = _batch_files(plan_files(table, as_of=as_of), {f"k{b}of{n_buckets}" for b in buckets})
    if not files:
        raise ValueError(f"no committed data in {table} for those keys")
    df = spark.read.option("mergeSchema", "true").parquet(*[f["path"] for f in files])
    return df.join(F.broadcast(kdf), on=key_col, how="inner")


def snapshot_diff(
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    key_col: str = "doc_id",
) -> DataFrame:
    """What changed between two snapshots of a keyed table:
    (key, change) with change in {inserted, deleted, updated}.
    Reads both snapshots' live file sets (metadata-only planning) and
    diffs relationally — full-row hash comparison for 'updated'."""
    a = read_tiles(spark, table, as_of=from_snapshot)
    b = read_tiles(spark, table, as_of=to_snapshot)
    common = [c for c in a.columns if c in b.columns]
    fp = lambda df: df.select(  # noqa: E731
        key_col, F.md5(F.to_json(F.struct(*[F.col(c) for c in common]))).alias("fp")
    )
    fa, fb = fp(a), fp(b)
    j = fa.alias("a").join(fb.alias("b"), on=key_col, how="full_outer")
    change = (
        F.when(F.col("a.fp").isNull(), F.lit("inserted"))
        .when(F.col("b.fp").isNull(), F.lit("deleted"))
        .when(F.col("a.fp") != F.col("b.fp"), F.lit("updated"))
    )
    return j.select(key_col, change.alias("change")).filter(F.col("change").isNotNull())
