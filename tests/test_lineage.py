"""Resumable checkpointed writes: kill-and-resume, manifest atomicity."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark import StorageLevel
from pyspark.sql import functions as F

from versatiles_rs_spark.lineage import (
    convert_resumable,
    lineage_table,
    plan_batches,
    read_manifest,
    read_tiles,
    resume_plan,
    write_batch,
)
from versatiles_rs_spark.operators.convert import TILE_SCHEMA, assign_tiles, render_point_tiles
from versatiles_rs_spark.queries import _docs_geo

MAXZ = 4


@pytest.fixture()
def tiles(spark, sf_dir):
    geo = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    return render_point_tiles(assign_tiles(geo, 0, MAXZ)).cache()


def test_plan_batches_counts():
    bs = plan_batches(0, 7, block_bits=6)
    # z0..6 -> 1 block each; z7 -> 4 blocks
    assert len(bs) == 7 + 4
    assert len({b.batch_id for b in bs}) == len(bs)


def test_full_write_then_read(tiles, tmp_path):
    table = str(tmp_path / "tiles_tbl")
    recs = convert_resumable(tiles, table, 0, MAXZ)
    assert len(recs) == MAXZ + 1
    back = read_tiles(tiles.sparkSession, table)
    assert back.count() == tiles.count()
    # re-running does nothing (all batches committed)
    again = convert_resumable(tiles, table, 0, MAXZ)
    assert again == []


def test_kill_and_resume(tiles, tmp_path):
    table = str(tmp_path / "tiles_tbl2")
    os.makedirs(table)
    batches = plan_batches(0, MAXZ)
    # simulate a killed job: only the first two batches committed
    for b in batches[:2]:
        write_batch(table, b, tiles)
    assert len(read_manifest(table)["batches"]) == 2
    todo = resume_plan(table, batches)
    assert [b.batch_id for b in todo] == [b.batch_id for b in batches[2:]]
    # resume completes the remainder, nothing re-done
    recs = convert_resumable(tiles, table, 0, MAXZ)
    assert len(recs) == len(batches) - 2
    assert read_tiles(tiles.sparkSession, table).count() == tiles.count()


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _tile_rows(df) -> list:
    """Per-tile identity: coordinates, labels, content hash, feature count."""
    cols = ["z", "x", "y", "format", "compression", F.sha1("tile"), "n_features"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_render_runs_once_per_commit(tiles, tmp_path, spark, sf_dir):
    """convert_resumable renders an uncached pyramid once for all of its
    batches, not once per batch; it persists nothing and leaves a caller's
    cache in place."""
    rendered = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rendered.add(len(pdf))
            yield pdf

    geo = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    uncached = render_point_tiles(assign_tiles(geo, 0, MAXZ)).mapInPandas(count_rows, TILE_SCHEMA)
    before = _persisted_rdds(spark)
    table = str(tmp_path / "once")
    recs = convert_resumable(uncached, table, 0, MAXZ)
    assert len(recs) == MAXZ + 1
    renders = rendered.value
    committed = read_tiles(spark, table)
    assert renders == committed.count()  # one pass, not MAXZ + 1
    assert _persisted_rdds(spark) == before
    assert not uncached.is_cached
    assert _tile_rows(committed) == _tile_rows(tiles)

    convert_resumable(tiles, str(tmp_path / "cached"), 0, MAXZ)
    assert tiles.is_cached and tiles.storageLevel != StorageLevel.NONE


def test_empty_blocks_skipped_and_resume_exact(tmp_path, spark, sf_dir, monkeypatch):
    """Batches are the static plan's blocks that hold tiles, in plan
    order; a run killed after two commits resumes to the same table as an
    uninterrupted run, and a failed batch leaks no persist."""
    import versatiles_rs_spark.lineage as lineage

    maxz, bits = 9, 6
    geo = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    pyramid = render_point_tiles(assign_tiles(geo, 0, maxz)).cache()
    blocks = pyramid.select("z", F.shiftright("x", bits), F.shiftright("y", bits)).distinct()
    filled = {f"z{z}_x{bx}_y{by}" for z, bx, by in blocks.collect()}
    static = [b.batch_id for b in plan_batches(0, maxz, bits)]
    assert len(filled) < len(static)  # the fixture leaves blocks empty

    full = str(tmp_path / "full")
    recs = convert_resumable(pyramid, full, 0, maxz, block_bits=bits)
    assert [r["batch_id"] for r in recs] == [b for b in static if b in filled]
    assert all(r["row_count"] > 0 for r in recs)
    assert convert_resumable(pyramid, full, 0, maxz, block_bits=bits) == []

    # kill after two commits: the third batch's data and lineage are
    # written, its snapshot and manifest swap are not
    commit = lineage._commit_snapshot

    def dying(table, manifest, snapshot):
        if snapshot["snapshot_id"] > 2:
            raise RuntimeError("killed")
        commit(table, manifest, snapshot)

    killed = str(tmp_path / "killed")
    uncached = render_point_tiles(assign_tiles(geo, 0, maxz))
    before = _persisted_rdds(spark)
    monkeypatch.setattr(lineage, "_commit_snapshot", dying)
    with pytest.raises(RuntimeError, match="killed"):
        convert_resumable(uncached, killed, 0, maxz, block_bits=bits)
    monkeypatch.undo()
    assert _persisted_rdds(spark) == before
    assert len(read_manifest(killed)["batches"]) == 2

    rest = convert_resumable(uncached, killed, 0, maxz, block_bits=bits)
    assert [r["batch_id"] for r in rest] == [r["batch_id"] for r in recs[2:]]
    assert read_manifest(killed)["batches"].keys() == read_manifest(full)["batches"].keys()
    assert _tile_rows(read_tiles(spark, killed)) == _tile_rows(read_tiles(spark, full))


def test_uncommitted_data_invisible(tiles, tmp_path):
    table = str(tmp_path / "tiles_tbl3")
    os.makedirs(table)
    batches = plan_batches(0, MAXZ)
    write_batch(table, batches[0], tiles)
    # a crashed writer left data without a manifest entry
    orphan = tiles.filter("z = 3")
    orphan.write.parquet(os.path.join(table, "data", "batch=z3_x0_y0"))
    back = read_tiles(tiles.sparkSession, table)
    assert back.filter("z = 3").count() == 0
    assert back.count() == tiles.filter("z = 0").count()


def test_lineage_metrics_match_data(tiles, tmp_path, spark):
    table = str(tmp_path / "tiles_tbl4")
    convert_resumable(tiles, table, 0, MAXZ)
    lt = lineage_table(spark, table)
    got = {r["batch_id"]: r for r in lt.collect()}
    for z in range(MAXZ + 1):
        rec = got[f"z{z}_x0_y0"]
        want_rows = tiles.filter(f"z = {z}").count()
        want_bytes = tiles.filter(f"z = {z}").agg(F.sum(F.length("tile"))).collect()[0][0]
        assert rec["row_count"] == want_rows
        assert rec["bytes"] == want_bytes
    # manifest JSON is valid and matches
    m = read_manifest(table)
    assert set(m["batches"]) == set(got)
    json.dumps(m)  # serializable


def test_snapshot_history_and_time_travel(tiles, tmp_path, spark):
    """Each batch commit is one snapshot; as_of reads reproduce every
    intermediate state exactly (Iceberg time-travel semantics)."""
    from versatiles_rs_spark.lineage import snapshots_table

    table = str(tmp_path / "tiles_tbl5")
    convert_resumable(tiles, table, 0, MAXZ)
    snaps = snapshots_table(spark, table).orderBy("snapshot_id").collect()
    assert [s["snapshot_id"] for s in snaps] == list(range(1, MAXZ + 2))
    assert [s["parent_id"] for s in snaps] == [None] + list(range(1, MAXZ + 1))
    assert all(s["operation"] == "append" for s in snaps)

    # as_of=k sees exactly zooms 0..k-1 (batches commit in zoom order)
    for k in range(1, MAXZ + 2):
        got = read_tiles(spark, table, as_of=k)
        assert got.count() == tiles.filter(f"z < {k}").count()
        assert got.agg(F.max("z")).collect()[0][0] == k - 1
    # current == last snapshot
    assert read_tiles(spark, table).count() == tiles.count()


def test_manifest_file_pruning(tiles, tmp_path, spark):
    """plan_files prunes by manifest-recorded z/x/y bounds without opening
    parquet; the pruned read equals the filtered full read."""
    from versatiles_rs_spark.lineage import plan_files

    table = str(tmp_path / "tiles_tbl6")
    convert_resumable(tiles, table, 0, MAXZ)
    all_files = plan_files(table)
    z2 = plan_files(table, z=(2, 2))
    assert 0 < len(z2) < len(all_files)
    got = read_tiles(spark, table, z=(2, 2))
    # file-level pruning is a superset guarantee; exact after the filter
    assert got.filter("z = 2").count() == tiles.filter("z = 2").count()
    assert got.count() == sum(f["rows"] for f in z2)

    # spatial slice: x range at the deepest zoom
    xs = plan_files(table, z=(MAXZ, MAXZ), x=(0, 3))
    assert all(f["x_min"] <= 3 for f in xs)


def test_per_file_stats_sum_to_batch(tiles, tmp_path, spark):
    """Footer-derived per-file rows sum to the observed batch row_count,
    and recorded bounds cover the data."""
    table = str(tmp_path / "tiles_tbl7")
    recs = convert_resumable(tiles, table, 0, MAXZ)
    for rec in recs:
        assert sum(f["rows"] for f in rec["files"]) == rec["row_count"]
        assert rec["n_files"] == len(rec["files"])
        for f in rec["files"]:
            assert f["file_bytes"] > 0
        if rec["row_count"] > 0:
            z = rec["z"]
            lo = min(f["x_min"] for f in rec["files"] if "x_min" in f)
            hi = max(f["x_max"] for f in rec["files"] if "x_max" in f)
            want = tiles.filter(f"z = {z}").agg(F.min("x"), F.max("x")).collect()[0]
            assert (lo, hi) == (want[0], want[1])


def test_commit_pointer_protects_partial_snapshot(tiles, tmp_path, spark):
    """A snapshot file without a manifest pointer swap (writer killed
    between the two steps) is invisible to reads."""
    import json as _json
    import os as _os

    table = str(tmp_path / "tiles_tbl8")
    batches = plan_batches(0, MAXZ)
    _os.makedirs(table)
    write_batch(table, batches[0], tiles)
    write_batch(table, batches[1], tiles)
    # hand-roll the orphan: copy snapshot v2 to v3 (as if written pre-crash)
    snap = _json.load(open(_os.path.join(table, "_snapshots", "v2.json")))
    snap["snapshot_id"] = 3
    _json.dump(snap, open(_os.path.join(table, "_snapshots", "v3.json"), "w"))
    assert read_manifest(table)["current_snapshot"] == 2
    assert read_tiles(spark, table).count() == tiles.filter("z <= 1").count()


def test_compact_and_expire(tiles, tmp_path, spark):
    """Compaction rewrites a batch's files as a REPLACE snapshot; expiry
    GCs the replaced files and fences expired time travel."""
    import glob as _glob

    from versatiles_rs_spark.lineage import (
        compact_batch,
        expire_snapshots,
        plan_files,
        snapshots_table,
    )

    table = str(tmp_path / "tiles_tbl9")
    convert_resumable(tiles, table, 0, MAXZ)
    pre = read_tiles(spark, table)
    want_rows = pre.count()
    deep = f"z{MAXZ}_x0_y0"
    before = [f for f in plan_files(table) if f"batch={deep}" in f["path"]]
    assert len(before) > 1  # multiple shuffle-partition files to compact

    res = compact_batch(spark, table, deep)
    assert res["files_after"] == 1 and res["files_before"] == len(before)
    # current read identical rows; batch membership unchanged
    post = read_tiles(spark, table)
    assert post.count() == want_rows
    assert post.filter(f"z = {MAXZ}").count() == tiles.filter(f"z = {MAXZ}").count()
    # time travel to the pre-compaction snapshot still sees the old files
    pre_sid = res["snapshot_id"] - 1
    assert read_tiles(spark, table, as_of=pre_sid).count() == want_rows
    ops = {r["snapshot_id"]: r["operation"] for r in snapshots_table(spark, table).collect()}
    assert ops[res["snapshot_id"]] == "replace"

    # expiry: keep only the newest snapshot -> replaced files deleted
    old_paths = [f["path"] for f in before]
    assert all(os.path.exists(p) for p in old_paths)
    gc = expire_snapshots(table, keep_last=1)
    assert gc["deleted_files"] == len(old_paths)
    assert not any(os.path.exists(p) for p in old_paths)
    # current read unaffected; expired as_of fails fast
    assert read_tiles(spark, table).count() == want_rows
    with pytest.raises(ValueError, match="expired"):
        read_tiles(spark, table, as_of=pre_sid)
    # resume contract untouched: nothing to re-run
    assert convert_resumable(tiles, table, 0, MAXZ) == []


def test_compact_batch_prefix_collision(tiles, tmp_path, spark):
    """compact_batch('z10_x0_y1') must not sweep files of the
    prefix-colliding batch 'z10_x0_y10' into its rewrite — membership is
    matched on whole path components, not substrings."""
    from versatiles_rs_spark.lineage import TileBatch, compact_batch, plan_files

    table = str(tmp_path / "tiles_collide")
    t10 = tiles.withColumn("z", F.lit(10))
    # by=1 block covers y 64..127; by=10 covers y 640..703 (block_bits=6)
    b_short = TileBatch(10, 0, 1)
    b_long = TileBatch(10, 0, 10)
    write_batch(table, b_short, t10.withColumn("y", F.col("y") % 64 + 64))
    write_batch(table, b_long, t10.withColumn("y", F.col("y") % 64 + 640))
    assert b_long.batch_id.startswith(b_short.batch_id)  # the collision

    files_long_before = {
        f["path"] for f in plan_files(table) if "batch=z10_x0_y10" in f["path"]
    }
    assert files_long_before

    res = compact_batch(spark, table, b_short.batch_id)
    # the long batch's files survive untouched and stay live
    files_long_after = {
        f["path"] for f in plan_files(table) if "batch=z10_x0_y10" in f["path"]
    }
    assert files_long_after == files_long_before
    # the REPLACE snapshot removed only the short batch's files
    from versatiles_rs_spark.lineage import _read_snapshot

    snap = _read_snapshot(table, res["snapshot_id"])
    assert all("batch=z10_x0_y10" not in p for p in snap["removed"])
    # row counts preserved on the current snapshot
    total = read_tiles(spark, table).count()
    assert total == t10.count() * 2


def test_compact_batch_recompaction_sweeps_own_rewrites(tiles, tmp_path, spark):
    """Compacting the same batch twice treats the first rewrite's
    batch=<id>_r<sid> directory as part of the batch (it IS this batch's
    data), so the second REPLACE removes it."""
    from versatiles_rs_spark.lineage import TileBatch, compact_batch, plan_files

    table = str(tmp_path / "tiles_recompact")
    b = TileBatch(3, 0, 0)
    write_batch(table, b, tiles.filter("z = 3").repartition(4))
    n = read_tiles(spark, table).count()
    assert n > 0

    r1 = compact_batch(spark, table, b.batch_id)
    r2 = compact_batch(spark, table, b.batch_id)
    assert r2["files_before"] == r1["files_after"]
    assert read_tiles(spark, table).count() == n


def test_merge_upsert_copy_on_write(tmp_path, spark, sf_dir):
    """MERGE: updates replace, new keys append, deletes disappear — in
    one snapshot — and only buckets containing touched keys are
    rewritten (untouched buckets keep their exact file paths)."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark.lineage import (
        keyed_resumable,
        merge_upsert,
        plan_files,
        read_tiles,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    table = str(tmp_path / "docs_keyed")
    keyed_resumable(docs, table, n_buckets=4, key_col="doc_id")
    before = {f["path"] for f in plan_files(table)}
    pre_sid = None

    updates = (
        docs.filter("doc_id IN (3, 7)")
        .withColumn("text", F.concat(F.col("text"), F.lit(" EDITED")))
        .unionByName(
            spark.createDataFrame([(100000, "brand new doc")], "doc_id bigint, text string")
        )
    )
    deletes = docs.filter("doc_id = 11").select("doc_id")
    res = merge_upsert(spark, table, updates, key_col="doc_id", deletes=deletes)
    pre_sid = res["snapshot_id"] - 1

    got = {r["doc_id"]: r["text"] for r in read_tiles(spark, table).collect()}
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    want[3] += " EDITED"
    want[7] += " EDITED"
    want[100000] = "brand new doc"
    del want[11]
    assert got == want

    # copy-on-write granularity: untouched buckets keep their files
    touched = set(res["touched_buckets"])
    assert touched < set(range(4))  # some bucket untouched in this fixture
    after = {f["path"] for f in plan_files(table)}
    untouched_before = {
        p for p in before
        if not any(f"batch=k{b}of4" in p for b in touched)
    }
    assert untouched_before <= after

    # time travel: the pre-merge snapshot still shows the original rows
    old = {r["doc_id"]: r["text"] for r in read_tiles(spark, table, as_of=pre_sid).collect()}
    assert old == {r["doc_id"]: r["text"] for r in docs.collect()}

    # multi-matching updates are refused
    dup = updates.unionByName(updates)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key-unique"):
        merge_upsert(spark, table, dup)


def test_compact_merged_bucket(tmp_path, spark, sf_dir):
    """compact_batch of a keyed bucket after merge_upsert takes the
    bucket's batch=<id>_m<sid> files: the compaction commits and the
    table reads the same rows as before it; read_keyed still finds the
    bucket's keys in the compacted files."""
    from versatiles_rs_spark.lineage import (
        compact_batch,
        keyed_resumable,
        merge_upsert,
        plan_files,
        read_keyed,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    table = str(tmp_path / "docs_merged")
    keyed_resumable(docs, table, n_buckets=4, key_col="doc_id")
    merge_upsert(spark, table, docs.withColumn("text", F.upper("text")), key_col="doc_id")
    assert all("_m" in os.path.basename(os.path.dirname(f["path"])) for f in plan_files(table))
    before = sorted(read_tiles(spark, table).collect())

    res = compact_batch(spark, table, "k0of4")
    assert res["files_before"] >= 1 and res["files_after"] == 1
    assert sorted(read_tiles(spark, table).collect()) == before
    want = {r["doc_id"]: r["text"] for r in before}
    got = {r["doc_id"]: r["text"] for r in read_keyed(spark, table, list(want)).collect()}
    assert got == want


def test_merge_upsert_schema_evolution(tmp_path, spark, sf_dir):
    """ADD-COLUMN evolution through MERGE: updates carry a new column;
    touched buckets rewrite with it, untouched buckets keep old files,
    and reads merge schemas (old rows NULL in the new column). Updates
    missing an existing column are refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from versatiles_rs_spark.lineage import keyed_resumable, merge_upsert, read_tiles

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 100")
    )
    table = str(tmp_path / "docs_evolve")
    keyed_resumable(docs, table, n_buckets=4, key_col="doc_id")

    updates = docs.filter("doc_id = 3").withColumn("quality", F.lit(0.9))
    res = merge_upsert(spark, table, updates, key_col="doc_id")
    assert set(res["touched_buckets"]) < set(range(4))

    got = read_tiles(spark, table)
    assert "quality" in got.columns
    rows = {r["doc_id"]: r["quality"] for r in got.collect()}
    assert rows[3] == 0.9
    assert all(v is None for k, v in rows.items() if k != 3)

    with _pytest.raises(ValueError, match="missing table columns"):
        merge_upsert(spark, table, updates.drop("text"))


def test_read_keyed_point_lookup_and_snapshot_diff(tmp_path, spark, sf_dir):
    """Point lookups open only the buckets containing the requested keys;
    snapshot_diff classifies a merge's inserts/updates/deletes."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark.lineage import (
        keyed_resumable,
        merge_upsert,
        plan_files,
        read_keyed,
        snapshot_diff,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 100")
    )
    table = str(tmp_path / "docs_lookup")
    keyed_resumable(docs, table, n_buckets=8, key_col="doc_id")
    pre = len(plan_files(table))

    got = {r["doc_id"] for r in read_keyed(spark, table, [3, 17]).collect()}
    assert got == {3, 17}
    # the lookup plans strictly fewer files than the full table
    kdf_buckets = {
        r[0] for r in spark.createDataFrame([(3,), (17,)], "doc_id bigint")
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(8))).collect()
    }
    assert len(kdf_buckets) <= 2 and len(kdf_buckets) < pre

    updates = (
        docs.filter("doc_id = 5")
        .withColumn("text", F.lit("changed"))
        .unionByName(spark.createDataFrame([(777, "new")], "doc_id bigint, text string"))
    )
    res = merge_upsert(
        spark, table, updates, key_col="doc_id",
        deletes=docs.filter("doc_id = 9").select("doc_id"),
    )
    diff = {
        r["doc_id"]: r["change"]
        for r in snapshot_diff(spark, table, res["snapshot_id"] - 1).collect()
    }
    assert diff == {5: "updated", 777: "inserted", 9: "deleted"}


def _table_state(spark, table: str) -> tuple:
    """What a resume must reproduce: per-tile rows, committed batch ids in
    commit order, and their row counts."""
    m = read_manifest(table)
    order = sorted(m["batches"], key=lambda b: m["batches"][b]["snapshot_id"])
    rows = _tile_rows(read_tiles(spark, table))
    return rows, order, [m["batches"][b]["row_count"] for b in order]


BITS = 1  # 2x2-tile blocks: at z0-4, 86 static blocks, some of them empty


def test_kill_inside_write_job_resumes_exact(tiles, tmp_path, spark, monkeypatch):
    """A task failure inside the one write job commits nothing; the resume,
    also past the staged files of a hard-killed job, gives the
    uninterrupted table (tiles, batch ids and order, row counts)."""
    import versatiles_rs_spark.lineage as lineage
    from pyspark import TaskContext

    full = str(tmp_path / "full")
    convert_resumable(tiles, full, 0, MAXZ, block_bits=BITS)

    real = lineage._stage

    def dying(keyed, staging, *args):
        def fail(batches):
            for pdf in batches:
                if TaskContext.get().partitionId() == 1:
                    raise RuntimeError("killed")
                yield pdf

        return real(keyed.mapInPandas(fail, keyed.schema), staging, *args)

    killed = str(tmp_path / "killed")
    monkeypatch.setattr(lineage, "_stage", dying)
    with pytest.raises(Exception, match="killed"):
        convert_resumable(tiles, killed, 0, MAXZ, block_bits=BITS)
    monkeypatch.undo()
    assert read_manifest(killed)["batches"] == {}
    assert not os.path.exists(os.path.join(killed, "_lineage"))
    # a hard kill also leaves the write tasks' staged files behind
    some = next(iter(read_manifest(full)["batches"]))
    for leftover in ("_staging/killed-call", "_staging/other-call"):
        tiles.write.parquet(os.path.join(killed, leftover, f"batch={some}"))

    recs = convert_resumable(tiles, killed, 0, MAXZ, block_bits=BITS)
    assert len(recs) == len(read_manifest(full)["batches"])
    assert _table_state(spark, killed) == _table_state(spark, full)


def test_stale_uncommitted_batch_dirs_replaced(tiles, tmp_path, spark):
    """Leftover files in an uncommitted batch=<id> directory are replaced,
    not added to, and an uncommitted directory of an empty block goes."""
    full = str(tmp_path / "full")
    convert_resumable(tiles, full, 0, MAXZ, block_bits=BITS)
    filled = read_manifest(full)["batches"]
    empty = next(b.batch_id for b in plan_batches(0, MAXZ, BITS) if b.batch_id not in filled)
    stale = max(filled, key=lambda b: filled[b]["snapshot_id"])

    table = str(tmp_path / "stale")
    for batch in (stale, empty):
        tiles.filter("z = 4").write.parquet(os.path.join(table, "data", f"batch={batch}"))
    convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    assert _table_state(spark, table) == _table_state(spark, full)
    assert not os.path.exists(os.path.join(table, "data", f"batch={empty}"))
    rec = json.load(open(os.path.join(table, "_lineage", f"batch={stale}.json")))
    assert sum(f["rows"] for f in rec["files"]) == rec["row_count"] == filled[stale]["row_count"]


def test_resume_leaves_committed_batch_files_alone(tiles, tmp_path, monkeypatch):
    """A resume after a kill between commits rewrites only uncommitted
    batches: every file of a committed batch keeps its path and mtime."""
    import versatiles_rs_spark.lineage as lineage

    commit = lineage._commit_snapshot

    def dying(table, manifest, snapshot):
        if snapshot["snapshot_id"] > 3:
            raise RuntimeError("killed")
        commit(table, manifest, snapshot)

    table = str(tmp_path / "t")
    monkeypatch.setattr(lineage, "_commit_snapshot", dying)
    with pytest.raises(RuntimeError, match="killed"):
        convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    monkeypatch.undo()
    done = read_manifest(table)["batches"]
    assert len(done) == 3

    def files():
        out = {}
        for b in done:
            d = os.path.join(table, "data", f"batch={b}")
            out.update({os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
                        for n in os.listdir(d)})
        return out

    before = files()
    assert before
    rest = convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    assert rest and not {r["batch_id"] for r in rest} & set(done)
    assert files() == before
    assert _tile_rows(read_tiles(tiles.sparkSession, table)) == _tile_rows(tiles)


def test_write_total_mismatch_raises_before_any_commit(tiles, tmp_path, monkeypatch):
    """When a write task reports another row count than its file holds (a
    row lost between the two), the call raises and nothing commits."""
    import versatiles_rs_spark.lineage as lineage

    real = lineage._stage

    def miscounted(*args):
        rows = real(*args)
        rows[-1]["row_count"] += 1
        return rows

    monkeypatch.setattr(lineage, "_stage", miscounted)
    table = str(tmp_path / "t")
    with pytest.raises(RuntimeError, match="nothing committed"):
        convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    monkeypatch.undo()
    assert read_manifest(table) == {"batches": {}, "current_snapshot": 0}
    assert not os.path.exists(os.path.join(table, "_snapshots"))
    convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    assert _tile_rows(read_tiles(tiles.sparkSession, table)) == _tile_rows(tiles)


def test_one_call_runs_a_fixed_number_of_jobs(tmp_path, spark, sf_dir):
    """A commit call runs at most 2 Spark jobs (render included), whatever
    its batch count: the render's shuffle and the write; a keyed call
    without a shuffle runs the write alone."""
    from versatiles_rs_spark.lineage import keyed_resumable

    sc = spark.sparkContext
    geo = _docs_geo(spark, sf_dir).select("doc_id", "lon", "lat", "lang")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    try:
        sc.setJobGroup("lineage-convert", "convert_resumable")
        recs = convert_resumable(
            render_point_tiles(assign_tiles(geo, 0, 9)), str(tmp_path / "t"), 0, 9, block_bits=6
        )
        sc.setJobGroup("lineage-keyed", "keyed_resumable")
        keyed = keyed_resumable(docs, str(tmp_path / "k"), n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(recs) > 4 and len(keyed) == 8
    assert len(sc.statusTracker().getJobIdsForGroup("lineage-convert")) <= 2
    assert len(sc.statusTracker().getJobIdsForGroup("lineage-keyed")) <= 1


def test_batch_column_refused(tmp_path, spark, sf_dir):
    """The write partitions on a 'batch' column of its own, so a frame that
    already has one is refused before any job instead of being overwritten."""
    from versatiles_rs_spark.lineage import keyed_resumable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    with pytest.raises(ValueError, match="'batch' column"):
        keyed_resumable(docs.withColumn("batch", F.lit(1)), str(tmp_path / "k"), n_buckets=2)


def test_unreported_staged_file_never_committed(tiles, tmp_path, spark, monkeypatch):
    """Only the files the write tasks report move into data/: a stray
    staged file (the output of a failed task attempt) never does, and the
    staging directory is gone after a call, successful or failed."""
    import shutil

    import versatiles_rs_spark.lineage as lineage

    full = str(tmp_path / "full")
    convert_resumable(tiles, full, 0, MAXZ, block_bits=BITS)
    real = lineage._stage

    def with_strays(keyed, staging, *args):
        rows = real(keyed, staging, *args)
        for r in rows:  # another attempt of the same task wrote the same rows
            shutil.copy(r["path"], os.path.join(os.path.dirname(r["path"]), "part-99999-1-0000.parquet"))
        return rows

    table = str(tmp_path / "t")
    monkeypatch.setattr(lineage, "_stage", with_strays)
    convert_resumable(tiles, table, 0, MAXZ, block_bits=BITS)
    monkeypatch.undo()
    names = {n for _, _, files in os.walk(os.path.join(table, "data")) for n in files}
    assert names and not any(n.startswith("part-99999") for n in names)
    assert not os.path.exists(os.path.join(table, "_staging"))
    assert _table_state(spark, table) == _table_state(spark, full)

    def dying(*args):
        real(*args)
        raise RuntimeError("killed")

    failed = str(tmp_path / "failed")
    monkeypatch.setattr(lineage, "_stage", dying)
    with pytest.raises(RuntimeError, match="killed"):
        convert_resumable(tiles, failed, 0, MAXZ, block_bits=BITS)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(failed, "_staging"))
    assert not os.path.exists(os.path.join(failed, "data"))
    assert read_manifest(failed)["batches"] == {}


def _batch_stats(table: str) -> dict:
    """Per committed batch: row count, byte sum and x/y bounds."""
    keys = ("row_count", "bytes", "x_min", "x_max", "y_min", "y_max")
    return {r["batch_id"]: {k: r.get(k) for k in keys} for r in _lineage_records(table)}


def _lineage_records(table: str) -> list[dict]:
    d = os.path.join(table, "_lineage")
    names = sorted(os.listdir(d)) if os.path.isdir(d) else []
    return [json.load(open(os.path.join(d, n))) for n in names]


def test_flush_budget_splits_a_batch_into_part_files(tiles, tmp_path, spark, monkeypatch):
    """A task that buffers more than the flush budget writes a batch's
    rows as several part files; the committed rows and the per-batch stats
    are those of the one-file-per-task write."""
    import versatiles_rs_spark.lineage as lineage

    one = tiles.coalesce(1)
    full = str(tmp_path / "full")
    convert_resumable(one, full, 0, MAXZ)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")
    monkeypatch.setattr(lineage, "_FLUSH_BYTES", 1)
    split = str(tmp_path / "split")
    try:
        convert_resumable(one, split, 0, MAXZ)
    finally:
        spark.conf.set(key, before)
    files = {r["batch_id"]: r["n_files"] for r in _lineage_records(split)}
    assert all(r["n_files"] == 1 for r in _lineage_records(full))
    assert max(files.values()) > 1
    for rec in _lineage_records(split):
        assert sum(f["rows"] for f in rec["files"]) == rec["row_count"]
    assert _batch_stats(split) == _batch_stats(full)
    assert _table_state(spark, split) == _table_state(spark, full)


_TEXT = st.one_of(st.none(), st.just(""), st.text(alphabet="aZ é€中😀́", max_size=6))


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(_TEXT, max_size=40),
    n_buckets=st.integers(1, 6),
    small=st.booleans(),
)
def test_written_stats_match_spark_aggregates(spark, tmp_path_factory, texts, n_buckets, small):
    """The write tasks' per-batch row counts and byte sums equal a Spark
    groupBy of count and sum(length(text)) — characters, not UTF-8 bytes,
    of a string column; 0 for a bucket of nulls or without rows — whether
    or not a batch spans several part files."""
    import versatiles_rs_spark.lineage as lineage
    from versatiles_rs_spark.lineage import keyed_resumable

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    bucket = F.format_string("k%dof%d", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)), F.lit(n_buckets))
    want = {f"k{b}of{n_buckets}": {"row_count": 0, "bytes": 0} for b in range(n_buckets)}
    for r in df.groupBy(bucket.alias("b")).agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("bytes")
    ).collect():
        want[r["b"]] = {"row_count": r["n"], "bytes": r["bytes"]}

    table = str(tmp_path_factory.mktemp("keyed"))
    budget = lineage._FLUSH_BYTES
    lineage._FLUSH_BYTES = 1 if small else budget
    try:
        keyed_resumable(df.repartition(2), table, n_buckets=n_buckets)
    finally:
        lineage._FLUSH_BYTES = budget
    got = {b: {k: v for k, v in s.items() if k in ("row_count", "bytes")} for b, s in _batch_stats(table).items()}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    cells=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 7), st.integers(0, 7), st.binary(max_size=5)),
        max_size=40,
    ),
)
def test_written_tile_bounds_match_spark_aggregates(spark, tmp_path_factory, cells):
    """Per tile batch: row count, tile byte sum and x/y bounds of the
    write tasks equal a Spark groupBy of the same rows; blocks without
    tiles commit nothing."""
    rows = [(z, x % (1 << z), y % (1 << z), "mvt", "none", t, 1) for z, x, y, t in cells]
    df = spark.createDataFrame(rows, TILE_SCHEMA).repartition(3)
    bits = 1
    key = F.format_string("z%d_x%d_y%d", "z", F.shiftright("x", bits), F.shiftright("y", bits))
    want = {
        r["b"]: {k: r[k] for k in ("row_count", "bytes", "x_min", "x_max", "y_min", "y_max")}
        for r in df.groupBy(key.alias("b")).agg(
            F.count(F.lit(1)).alias("row_count"),
            F.coalesce(F.sum(F.length("tile")), F.lit(0)).alias("bytes"),
            F.min("x").alias("x_min"), F.max("x").alias("x_max"),
            F.min("y").alias("y_min"), F.max("y").alias("y_max"),
        ).collect()
    }
    table = str(tmp_path_factory.mktemp("tiles"))
    recs = convert_resumable(df, table, 0, 3, block_bits=bits)
    assert [r["batch_id"] for r in recs] == [b.batch_id for b in plan_batches(0, 3, bits) if b.batch_id in want]
    assert _batch_stats(table) == want
