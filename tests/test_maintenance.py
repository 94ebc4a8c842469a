"""Zone-map data skipping + copy-on-write maintenance (DELETE / upsert /
compaction) over the manifest table format.

Extends the reference's append-only commit protocol
(crates/cdl-fs/src/lib.rs:822-853) with the row-level operations a mutable
lake needs; the invariants tested here are the Delta/Iceberg/Lance ones:
snapshots are immutable (time travel never changes), untouched files are
carried by reference (not rewritten), pruning never changes results, and
conflicting rewrites fail instead of resurrecting rows.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from connected_data_lake_spark.sources import maintenance as M
from connected_data_lake_spark.sources import rootfs as R
from connected_data_lake_spark.sources.manifest import (
    LocalFsStore,
    RewriteConflict,
    latest_snapshot,
    publish_rewrite,
)


def _rows(spark, tag: str, n: int = 10, size: int = 3, parent: str = "/"):
    return spark.createDataFrame(
        [
            (f"{tag}-{i:03d}.txt", parent, None, None, None, 0o644, size, 0, 0, size, bytearray(b"abc"))
            for i in range(n)
        ],
        R.ROOTFS_SCHEMA,
    )


def _disjoint_table(spark, tmp_path):
    """Three appends with disjoint `size` ranges and distinct parents —
    the shape zone maps are built to exploit."""
    uri = str(tmp_path / "tbl")
    R.write_table(_rows(spark, "a", size=10, parent="/a").coalesce(1), uri, mode="overwrite")
    R.write_table(_rows(spark, "b", size=200, parent="/b").coalesce(1), uri, mode="append")
    R.write_table(_rows(spark, "c", size=3000, parent="/c").coalesce(1), uri, mode="append")
    return uri


def _snapshot(uri):
    return latest_snapshot(LocalFsStore(os.path.join(uri, R._LOG_DIR)))


# ---------------------------------------------------------------- zone maps


def test_write_records_stats(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    _, files, stats = _snapshot(uri)
    assert len(files) == 3 and set(stats) == set(files)
    sizes = sorted((stats[f]["cols"]["size"]["min"], stats[f]["cols"]["size"]["max"]) for f in files)
    assert sizes == [(10, 10), (200, 200), (3000, 3000)]
    assert all(stats[f]["rows"] == 10 for f in files)
    # all-NULL column records nulls == rows (drives is_null / is_not_null)
    assert all(stats[f]["cols"]["atime"]["nulls"] == 10 for f in files)


def test_pruning_skips_files_and_preserves_results(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    live, total = M.pruned_file_list(uri, [("size", ">", 1000)])
    assert total == 3 and len(live) == 1
    live, _ = M.pruned_file_list(uri, [("parent", "=", "/b")])
    assert len(live) == 1
    live, _ = M.pruned_file_list(uri, [("size", "between", (100, 250))])
    assert len(live) == 1
    live, _ = M.pruned_file_list(uri, [("size", "in", [10, 3000])])
    assert len(live) == 2
    live, _ = M.pruned_file_list(uri, [("atime", "is_not_null",)])
    assert live == []  # every file is provably all-NULL in atime
    live, _ = M.pruned_file_list(uri, [("size", "=", 999)])
    assert live == []
    # exactness: pruned scan == full scan + filter, including the 0-file case
    full = R.read_table(spark, uri).filter("size > 1000").count()
    assert M.scan_table(spark, uri, [("size", ">", 1000)]).count() == full == 10
    assert M.scan_table(spark, uri, [("size", "=", 999)]).count() == 0


def test_pruning_is_conservative_without_stats(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    # simulate an old-format manifest (no stats key): nothing is skippable
    store = LocalFsStore(os.path.join(uri, R._LOG_DIR))
    import json

    v, files, _ = _snapshot(uri)
    store.put_if_absent(f"{v + 1:020d}.json", json.dumps({"version": v + 1, "files": files}).encode())
    live, total = M.pruned_file_list(uri, [("size", ">", 10**9)])
    assert len(live) == total == 3  # may-match: no stats, no skipping
    assert M.scan_table(spark, uri, [("size", ">", 10**9)]).count() == 0


# ------------------------------------------------------------------- DELETE


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    v0, files0, _ = _snapshot(uri)
    res = M.delete_where(spark, uri, [("parent", "=", "/b"), ("size", ">=", 200)])
    assert res["files_rewritten"] == 1 and res["files_total"] == 3
    v1, files1, stats1 = _snapshot(uri)
    assert v1 == res["version"] == v0 + 1
    # the two untouched files are carried by reference, with their stats
    assert len(set(files0) & set(files1)) == 2
    assert all(f in stats1 for f in files1)
    assert R.read_table(spark, uri).count() == 20
    assert R.read_table(spark, uri).filter("parent = '/b'").count() == 0
    # time travel: the pre-delete snapshot still has the rows
    assert R.read_table(spark, uri, version=v0).count() == 30


def open_parent(spark, uri, relfile):
    return {r["parent"] for r in spark.read.parquet(os.path.join(uri, relfile)).select("parent").collect()}


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    uri = str(tmp_path / "tbl")
    from pyspark.sql import functions as F

    df = _rows(spark, "x", n=4).withColumn(
        "size", F.expr("IF(name = 'x-000.txt', NULL, size)")
    )
    R.write_table(df, uri, mode="overwrite")
    M.delete_where(spark, uri, [("size", "<", 100)])
    left = R.read_table(spark, uri)
    # NULL-size row: predicate is NULL -> row NOT deleted (SQL DELETE)
    assert left.filter("size IS NULL").count() == 1
    assert left.filter("size IS NOT NULL").count() == 0


def test_delete_noop_commits_nothing(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    v0, _, _ = _snapshot(uri)
    res = M.delete_where(spark, uri, [("size", "=", 999)])
    assert res == {"files_rewritten": 0, "files_total": 3, "version": None}
    assert _snapshot(uri)[0] == v0


# ------------------------------------------------------------------- upsert


def test_upsert_updates_and_inserts(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    updates = _rows(spark, "b", n=3, size=777, parent="/b").unionByName(
        _rows(spark, "new", n=2, size=50, parent="/n")
    )
    res = M.upsert_table(spark, uri, updates, key_cols=["parent", "name"])
    # only the /b file's key range overlaps the updates' key bounds;
    # zone-map candidate selection must not touch /a or /c... the string
    # range ('/b'..'/n') x name range may also admit '/c' — allow 1-2
    assert 1 <= res["files_rewritten"] <= 2
    out = R.read_table(spark, uri)
    assert out.count() == 32  # 30 - 3 replaced + 3 updated + 2 inserted
    assert out.filter("parent = '/b' AND size = 777").count() == 3
    assert out.filter("parent = '/b' AND size = 200").count() == 7
    assert out.filter("parent = '/n'").count() == 2


def test_upsert_into_empty_key_space(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    inserts = _rows(spark, "zz", n=5, size=1, parent="/zz")
    res = M.upsert_table(spark, uri, inserts, key_cols=["parent", "name"])
    assert res["files_rewritten"] == 0  # pure insert: no file overlaps /zz
    assert R.read_table(spark, uri).count() == 35


def test_upsert_empty_batch_is_noop(spark, tmp_path):
    """An empty MERGE batch must not rewrite the table: empty key bounds
    yield an empty filter list, which prune_files reads as 'keep all files'
    — without the short-circuit a no-op MERGE rewrote every file as one
    commit and dropped the per-file Bloom bitsets (ADVICE r5)."""
    uri = _disjoint_table(spark, tmp_path)
    v0 = R.table_version(uri)
    empty = _rows(spark, "x", n=1, size=1, parent="/x").limit(0)
    res = M.upsert_table(spark, uri, empty, key_cols=["parent", "name"])
    assert res["files_rewritten"] == 0 and res["version"] is None
    assert res["files_total"] > 0
    assert R.table_version(uri) == v0  # no commit published
    assert R.read_table(spark, uri).count() == 30


def test_upsert_all_null_keys_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    uri = _disjoint_table(spark, tmp_path)
    v0 = R.table_version(uri)
    nulls = (
        _rows(spark, "x", n=2, size=1, parent="/x")
        .withColumn("parent", F.lit(None).cast("string"))
        .withColumn("name", F.lit(None).cast("string"))
    )
    res = M.upsert_table(spark, uri, nulls, key_cols=["parent", "name"])
    assert res["files_rewritten"] == 0 and res["version"] is None
    assert R.table_version(uri) == v0


# --------------------------------------------------------------- compaction


def test_compact_bin_packs_small_files(spark, tmp_path):
    uri = str(tmp_path / "tbl")
    for i in range(8):
        R.write_table(_rows(spark, f"t{i}", n=5).coalesce(1), uri, mode="append" if i else "overwrite")
    v0, files0, _ = _snapshot(uri)
    assert len(files0) == 8
    res = M.compact_table(spark, uri, target_bytes=1 << 20)
    v1, files1, stats1 = _snapshot(uri)
    assert res["files_compacted"] == 8 and len(files1) == 1
    assert files1[0] in stats1  # compacted file carries fresh zone maps
    assert R.read_table(spark, uri).count() == 40
    assert R.read_table(spark, uri, version=v0).count() == 40  # history intact
    # default retention shields the young unreferenced files (a concurrent
    # writer may have staged-but-not-published them); retention 0 reclaims
    assert R.vacuum_table(uri) == 0
    assert R.vacuum_table(uri, retention_hours=0) == 8
    assert R.read_table(spark, uri).count() == 40


def test_compact_leaves_large_files_alone(spark, tmp_path):
    uri = str(tmp_path / "tbl")
    R.write_table(_rows(spark, "a", n=20).coalesce(1), uri, mode="overwrite")
    res = M.compact_table(spark, uri, target_bytes=1024)  # file >= 3/4 target
    assert res["files_compacted"] == 0 and res["version"] is None


# -------------------------------------------------------------- concurrency


def test_rewrite_retains_concurrent_append(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    root = str(tmp_path / "tbl")
    store = LocalFsStore(os.path.join(root, R._LOG_DIR))
    _, files, stats = latest_snapshot(store)
    # plan a delete of the /a file, then an append lands before our commit
    R.write_table(_rows(spark, "late", n=4, size=42, parent="/late"), uri, mode="append")
    version = publish_rewrite(store, {files[0]}, [], stats=None)
    assert version >= 0
    out = R.read_table(spark, uri)
    assert out.count() == 24  # 30 - 10 deleted + 4 appended
    assert out.filter("parent = '/late'").count() == 4  # append retained


def test_conflicting_rewrites_raise(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    store = LocalFsStore(os.path.join(str(tmp_path / "tbl"), R._LOG_DIR))
    _, files, _ = latest_snapshot(store)
    publish_rewrite(store, {files[0]}, [], stats=None)  # first rewrite wins
    with pytest.raises(RewriteConflict):
        publish_rewrite(store, {files[0]}, [], stats=None)  # same input gone


def test_concurrent_deletes_distinct_files_both_land(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)

    def _del(parent):
        return M.delete_where(spark, uri, [("parent", "=", parent)])

    with ThreadPoolExecutor(max_workers=2) as pool:
        r1 = pool.submit(_del, "/a")
        r2 = pool.submit(_del, "/c")
        r1, r2 = r1.result(), r2.result()
    assert {r1["files_rewritten"], r2["files_rewritten"]} == {1}
    out = R.read_table(spark, uri)
    assert out.count() == 10
    assert {r["parent"] for r in out.select("parent").distinct().collect()} == {"/b"}


# ------------------------------------------------------------------- z-order


def _grid_rows(spark, sizes, modes):
    """One row per (size, mode) grid cell — two independent dimensions."""
    return spark.createDataFrame(
        [
            (f"f-{s:03d}-{m:03d}", "/g", None, None, None, m, s, 0, 0, 0, None)
            for s in sizes
            for m in modes
        ],
        R.ROOTFS_SCHEMA,
    )


def _size_sorted_grid(spark, tmp_path, side=16, n_files=4):
    """Grid laid out sorted by `size` only: size prunes, mode doesn't —
    the single-sort-key layout z-ordering exists to fix."""
    uri = str(tmp_path / "grid")
    per = side // n_files
    for i in range(n_files):
        chunk = _grid_rows(spark, range(i * per, (i + 1) * per), range(side)).coalesce(1)
        R.write_table(chunk, uri, mode="overwrite" if i == 0 else "append")
    return uri


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    uri = _size_sorted_grid(spark, tmp_path)
    before = {r["name"] for r in R.read_table(spark, uri).select("name").collect()}
    size_q = [("size", "between", (0, 3))]
    mode_q = [("mode", "between", (0, 3))]
    assert len(M.pruned_file_list(uri, size_q)[0]) == 1  # sorted dim prunes
    assert len(M.pruned_file_list(uri, mode_q)[0]) == 4  # unsorted dim: full scan
    old_version, old_files, _ = _snapshot(uri)

    total = sum(os.path.getsize(os.path.join(uri, f)) for f in old_files)
    out = M.zorder_table(spark, uri, ["size", "mode"], target_bytes=-(-total // 4))
    assert out["files_rewritten"] == 4 and out["version"] is not None

    _, new_files, _ = _snapshot(uri)
    assert not set(new_files) & set(old_files)  # full re-layout
    # same rows, and a selective predicate on EITHER dimension now skips
    after = {r["name"] for r in R.read_table(spark, uri).select("name").collect()}
    assert after == before
    for q in (size_q, mode_q):
        live, n = M.pruned_file_list(uri, q)
        assert len(live) < n, f"no skipping on {q} after z-order"
    # exact results through the pruned scan, both dims
    got = {r["name"] for r in M.scan_table(spark, uri, mode_q).select("name").collect()}
    assert got == {n for n in before if int(n.split("-")[2]) <= 3}
    # time travel: the pre-zorder snapshot is untouched
    assert R.read_table(spark, uri, version=old_version).count() == len(before)


def test_zorder_string_column(spark, tmp_path):
    """String dims rank via the 7-byte-prefix integer; same-prefix rows
    land in the same files so equality predicates prune."""
    uri = str(tmp_path / "s")
    parents = ["/alpha", "/beta", "/gamma", "/delta"]
    for i in range(4):  # each file holds a slice of EVERY parent
        rows = spark.createDataFrame(
            [
                (f"f-{i}-{p[1:]}-{j}", p, None, None, None, 0o644, 1, 0, 0, 0, None)
                for p in parents
                for j in range(8)
            ],
            R.ROOTFS_SCHEMA,
        ).coalesce(1)
        R.write_table(rows, uri, mode="overwrite" if i == 0 else "append")
    q = [("parent", "=", "/beta")]
    _, files, _ = _snapshot(uri)
    assert len(M.pruned_file_list(uri, q)[0]) == 4
    total = sum(os.path.getsize(os.path.join(uri, f)) for f in files)
    M.zorder_table(spark, uri, ["parent"], target_bytes=-(-total // 4))
    live, n = M.pruned_file_list(uri, q)
    assert len(live) < n
    got = M.scan_table(spark, uri, q).count()
    assert got == 32


def test_zorder_rejects_bad_args(spark, tmp_path):
    uri = _disjoint_table(spark, tmp_path)
    with pytest.raises(ValueError, match="at least one column"):
        M.zorder_table(spark, uri, [])
    with pytest.raises(ValueError, match="unsupported type"):
        M.zorder_table(spark, uri, ["data"])  # binary
    with pytest.raises(ValueError, match="signed long"):
        M.zorder_table(spark, uri, ["size", "mode"], bits=32)


# ---------------------------------------------------------- CdlFS integration


def test_cdlfs_scan_matches_read_files(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "tree"
    (src / "sub").mkdir(parents=True)
    (src / "small.txt").write_bytes(b"hi")
    (src / "sub" / "big.bin").write_bytes(b"x" * 9000)
    (src / "empty.bin").write_bytes(b"")
    fs = Cdl().open(f"local://{src}")
    fs.load()
    got = {r["name"] for r in fs.scan([("size", ">", 100)]).select("name").collect()}
    want = {r["name"] for r in fs.read_files("size > 100").select("name").collect()}
    assert got == want == {"big.bin"}
    # column projection + the pruned path agree with the full path
    assert fs.scan([("size", "=", 0)], columns=["name"]).collect()[0]["name"] == "empty.bin"
    assert fs.scan().count() == 3  # no filters = whole table


def test_cdlfs_optimize_refreshes_view(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "t"
    src.mkdir()
    for i in range(4):
        (src / f"d-{i}.bin").write_bytes(bytes([i]) * (i + 1) * 100)
    fs = Cdl().open(f"local://{src}")
    fs.load()
    before = {(r["name"], r["size"]) for r in fs.sql("SELECT name, size FROM rootfs").collect()}
    out = fs.optimize(zorder_by=["size", "name"])
    assert out["version"] is not None
    # the registered view follows the rewrite — same rows, no stale files
    after = {(r["name"], r["size"]) for r in fs.sql("SELECT name, size FROM rootfs").collect()}
    assert after == before
    assert fs.optimize()["files_compacted"] == 0  # z-order left one packed file


def test_cdlfs_upsert_vacuum_version(spark, tmp_path):
    from pyspark.sql import functions as F

    from connected_data_lake_spark import Cdl

    src = tmp_path / "t"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_bytes(b"v1")
    fs = Cdl().open(f"local://{src}")
    fs.load()
    v0 = fs.version()
    assert v0 >= 0
    # replace one row's payload metadata via key upsert on (parent, name)
    updates = fs.table().filter(F.col("name") == "f1.txt").withColumn(
        "size", F.lit(999).cast("long")
    )
    out = fs.upsert(updates, ["parent", "name"])
    assert out["version"] == fs.version() > v0
    got = {r["name"]: r["size"] for r in fs.sql("SELECT name, size FROM rootfs").collect()}
    assert got["f1.txt"] == 999 and got["f0.txt"] == 2
    assert fs.vacuum(retention_hours=0) >= 0  # replaced files reclaimable
    # post-vacuum the current snapshot still reads
    assert fs.sql("SELECT count(*) c FROM rootfs").collect()[0]["c"] == 3


def test_zorder_retains_concurrent_append(spark, tmp_path):
    """An append that lands between z-order's plan and its commit is
    retained un-clustered (the rewrite retry layers onto the newer
    snapshot); a second optimize pass folds it into the curve."""
    uri = _size_sorted_grid(spark, tmp_path, side=8, n_files=2)
    _, planned_files, _ = _snapshot(uri)
    total = sum(os.path.getsize(os.path.join(uri, f)) for f in planned_files)

    # interleave: plan the rewrite (reads the snapshot), then append, then
    # commit — simulated by appending BEFORE calling zorder_table, whose
    # publish_rewrite retry must retain the new file it never read
    from unittest.mock import patch

    import connected_data_lake_spark.sources.maintenance as maint

    real_publish = maint.publish_rewrite
    appended = {}

    def _append_then_publish(store, remove, add, **kw):
        if not appended:  # first commit attempt: sneak an append in
            late = _grid_rows(spark, range(8), range(8)).coalesce(1)
            R.write_table(late, uri, mode="append")
            appended["done"] = True
        return real_publish(store, remove, add, **kw)

    with patch.object(maint, "publish_rewrite", side_effect=_append_then_publish):
        out = M.zorder_table(spark, uri, ["size", "mode"], target_bytes=-(-total // 2))
    assert out["version"] is not None
    _, files_after, _ = _snapshot(uri)
    # the concurrently appended file survives, alongside the clustered ones
    assert len(files_after) == 2 + 1
    assert R.read_table(spark, uri).count() == 64 + 64


# ------------------------------------------------- read_files auto-pruning


def test_parse_condition_whitelist():
    from connected_data_lake_spark.sources.zonemap import parse_condition as P

    assert P("size > 100") == [("size", ">", 100)]
    assert P("size >= 1.5 AND parent = '/a'") == [("size", ">=", 1.5), ("parent", "=", "/a")]
    assert P("a != 3 and b <> 'x'") == [("a", "!=", 3), ("b", "!=", "x")]
    assert P("mode IS NULL AND size is not null") == [("mode", "is_null"), ("size", "is_not_null")]
    assert P("name IN ('a', 'b', 'c')") == [("name", "in", ("a", "b", "c"))]
    # anything not provably a plain whitelisted conjunction: None
    for bad in (
        "size > 100 OR size < 5",
        "NOT size = 3",
        "(size > 1) AND mode = 2",
        "length(name) = 3",
        "size BETWEEN 1 AND 5",
        "name = 'x AND y'",  # AND inside a string would split wrong
        "size > size",
        "name LIKE 'a%'",
        "",
    ):
        assert P(bad) is None, bad


def test_read_files_prunes_and_matches_plain_path(spark, tmp_path):
    """read_files on a simple conjunction reads fewer files but returns
    exactly the rows of the unpruned path — including when SQL coerces
    types the zone maps must not skip on."""
    uri = _disjoint_table(spark, tmp_path)  # 3 files, disjoint size ranges
    from pyspark.sql import functions as F

    from connected_data_lake_spark.sources.zonemap import parse_condition

    filters = parse_condition("size > 1000 AND parent = '/c'")
    assert filters is not None
    live, total = M.pruned_file_list(uri, filters)
    assert total == 3 and len(live) == 1
    pruned = M.scan_table(spark, uri, filters).filter(F.expr("size > 1000 AND parent = '/c'"))
    plain = R.read_table(spark, uri).filter(F.expr("size > 1000 AND parent = '/c'"))
    assert pruned.count() == plain.count() == 10
    # coercion case: string literal against the numeric size column —
    # parse succeeds but the kind guard must keep every file
    f2 = parse_condition("size = '200'")
    assert f2 == [("size", "=", "200")]
    live2, _ = M.pruned_file_list(uri, f2)
    assert len(live2) == 3  # cross-type: never skipped
    assert R.read_table(spark, uri).filter(F.expr("size = '200'")).count() == 10


def test_cdlfs_read_files_end_to_end_pruning(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "tree"
    src.mkdir()
    (src / "small.txt").write_bytes(b"ab")
    (src / "big.bin").write_bytes(b"x" * 9000)
    fs = Cdl().open(f"local://{src}")
    fs.load()
    got = {r["name"] for r in fs.read_files("size > 100 AND name = 'big.bin'").collect()}
    assert got == {"big.bin"}
    # unparseable conditions fall back to the plain path, same results
    assert fs.read_files("size > 100 OR size = 2").count() == 2


def test_temporal_zone_maps_prune_with_datetime_triples(spark, tmp_path):
    """Timestamp bounds record kind='ts': datetime-typed triples prune,
    while STRING literals against the same column never skip (SQL renders
    timestamps in multiple textual forms — cross-family is untrusted)."""
    import datetime as dt

    uri = str(tmp_path / "t")
    for i, day in enumerate((1, 10, 20)):
        t0 = dt.datetime(2024, 3, day, 12, 0, 0)
        rows = spark.createDataFrame(
            [(f"f{day}-{j}", "/d", t0, t0, t0, 0o644, j, 0, 0, 0, None) for j in range(4)],
            R.ROOTFS_SCHEMA,
        ).coalesce(1)
        R.write_table(rows, uri, mode="overwrite" if i == 0 else "append")
    _, files, stats = _snapshot(uri)
    assert all(stats[f]["cols"]["mtime"].get("kind") == "ts" for f in files)

    probe = dt.datetime(2024, 3, 10, 12, 0, 0)
    live, n = M.pruned_file_list(uri, [("mtime", "=", probe)])
    assert n == 3 and len(live) == 1
    assert M.scan_table(spark, uri, [("mtime", "=", probe)]).count() == 4
    between = [("mtime", "between", (dt.datetime(2024, 3, 5), dt.datetime(2024, 3, 15)))]
    assert len(M.pruned_file_list(uri, between)[0]) == 1
    # string literal on the temporal column: kind mismatch, never skipped
    live_str, _ = M.pruned_file_list(uri, [("mtime", "=", "2024-03-10 12:00:00")])
    assert len(live_str) == 3


def test_file_path_uri_quotes_like_hadoop(spark):
    """``file_path_uri`` is the ``file:`` URI Hadoop builds for a local
    path (the form of Spark's ``_metadata.file_path``), for ASCII
    punctuation, spaces, percent signs and non-ASCII text alike."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from connected_data_lake_spark.sources.maintenance import file_path_uri

    jvm = spark.sparkContext._jvm
    alphabet = st.sampled_from(list("aZ09-_.!~*'()@&=+$,; %#?[]{}^`|\"<>\\") + ["ü", "€", "😀", "\u00a0", "\u3000", "é"])

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.text(alphabet, min_size=1, max_size=6), min_size=1, max_size=3))
    def check(parts):
        path = "/tmp/" + "/".join(p for p in parts if p not in (".", ".."))
        assert file_path_uri(path) == jvm.org.apache.hadoop.fs.Path("file:" + path).toUri().toString()

    check()
