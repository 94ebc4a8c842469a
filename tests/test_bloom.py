"""Per-file Bloom-filter data skipping (sources/bloom.py).

Zone maps can't skip a point lookup on an unclustered column — every
file's min/max admits it. The Bloom bitsets recorded by
``write_table(bloom_cols=...)`` must: (1) skip files that provably lack
the probed value, (2) NEVER skip a file that contains it (no false
negatives — checked exhaustively over every committed value), and
(3) leave results identical, since the exact predicate re-applies over
the surviving files.
"""

from __future__ import annotations

import os

from connected_data_lake_spark.sources import maintenance as M
from connected_data_lake_spark.sources import rootfs as R
from connected_data_lake_spark.sources.bloom import bloom_may_contain, probe_positions
from connected_data_lake_spark.sources.manifest import LocalFsStore, latest_snapshot


def _interleaved_table(spark, tmp_path, n_files=4, per=64):
    """`name` strings interleaved across files: every file's min/max spans
    the whole range, so zone maps alone can never skip on equality."""
    uri = str(tmp_path / "t")
    for i in range(n_files):
        rows = spark.createDataFrame(
            [
                (f"user-{j * n_files + i:04d}", "/u", None, None, None, 0o644, j, 0, 0, 0, None)
                for j in range(per)
            ],
            R.ROOTFS_SCHEMA,
        ).coalesce(1)
        R.write_table(
            rows, uri, mode="overwrite" if i == 0 else "append", bloom_cols=["name"]
        )
    return uri


def test_bloom_skips_absent_and_never_skips_present(spark, tmp_path):
    uri = _interleaved_table(spark, tmp_path)
    _, files, stats = latest_snapshot(LocalFsStore(os.path.join(uri, R._LOG_DIR)))
    assert len(files) == 4
    assert all("bloom" in stats[f] and "name" in stats[f]["bloom"] for f in files)

    # a value that exists in exactly one file: zone maps keep all 4
    # (interleaved min/max), the bloom keeps ~1
    live, n = M.pruned_file_list(uri, [("name", "=", "user-0005")])
    assert n == 4 and len(live) < 4
    got = M.scan_table(spark, uri, [("name", "=", "user-0005")]).count()
    assert got == 1

    # absent value: everything skippable (false positives allowed, so <=)
    live_absent, _ = M.pruned_file_list(uri, [("name", "=", "no-such-user")])
    assert len(live_absent) <= 1
    assert M.scan_table(spark, uri, [("name", "=", "no-such-user")]).count() == 0

    # NO false negatives: every committed value's file survives pruning
    rows = M.scan_table(spark, uri).select("name").collect()
    import collections

    by_file = collections.defaultdict(set)
    for f in files:
        import pyarrow.parquet as pq

        for v in pq.read_table(os.path.join(uri, f), columns=["name"])["name"].to_pylist():
            by_file[f].add(v)
    assert sum(len(s) for s in by_file.values()) == len(rows) == 256
    for f, values in by_file.items():
        for v in values:
            assert bloom_may_contain(stats[f]["bloom"]["name"], v), (f, v)
            assert f in M.pruned_file_list(uri, [("name", "=", v)])[0]


def test_bloom_in_list_and_conservative_fallbacks(spark, tmp_path):
    uri = _interleaved_table(spark, tmp_path, n_files=2, per=16)
    # IN-list: skip only when EVERY member is provably absent
    live, n = M.pruned_file_list(uri, [("name", "in", ("nope-1", "nope-2"))])
    assert len(live) <= 1
    live, _ = M.pruned_file_list(uri, [("name", "in", ("nope-1", "user-0003"))])
    got = M.scan_table(spark, uri, [("name", "in", ("nope-1", "user-0003"))]).count()
    assert got == 1 and len(live) >= 1
    # untypeable probe values and columns without a bitset never skip
    assert bloom_may_contain(None, "x")
    assert bloom_may_contain({"hex": "00" * 16, "m": 128, "k": 4}, b"bytes")
    assert probe_positions(1.5) is None  # floats: formatting differs, no bloom


def test_cdlfs_load_bloom_cols(spark, tmp_path):
    from connected_data_lake_spark import Cdl

    src = tmp_path / "tree"
    src.mkdir()
    for i in range(6):
        (src / f"f{i}.txt").write_bytes(b"x" * (i + 1))
    fs = Cdl().open(f"local://{src}")
    fs.load(bloom_cols=["name"])
    _, files, stats = latest_snapshot(LocalFsStore(os.path.join(fs.path.table_uri, R._LOG_DIR)))
    assert any("bloom" in stats[f] for f in files)
    assert fs.scan([("name", "=", "f3.txt")]).count() == 1
    assert fs.scan([("name", "=", "missing.txt")]).count() == 0


def test_spark_and_python_hash_lanes_agree(spark):
    """The build hashes with F.md5 lanes, the probe with hashlib.md5 —
    they must produce identical bit positions for identical values."""
    from pyspark.sql import functions as F

    values = ["user-0001", "Ω-unicode", "", "123", "true"]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    m, k = 8192, 4
    lanes = [
        (F.conv(F.substring(F.md5("v"), 8 * i + 1, 8), 16, 10).cast("long") % m).alias(str(i))
        for i in range(k)
    ]
    for row in df.select("v", *lanes).collect():
        assert probe_positions(row["v"], m, k) == [row[str(i)] for i in range(k)]


def test_rewrites_can_regenerate_blooms(spark, tmp_path):
    """bloom_cols on a rewrite restores equality skipping that the
    rewrite would otherwise conservatively drop."""
    uri = _interleaved_table(spark, tmp_path, n_files=4, per=32)
    M.compact_table(spark, uri, target_bytes=10_000, bloom_cols=["name"])
    _, files, stats = latest_snapshot(LocalFsStore(os.path.join(uri, R._LOG_DIR)))
    assert len(files) > 1
    assert all("bloom" in stats[f] for f in files)
    live, n = M.pruned_file_list(uri, [("name", "=", "no-such")])
    assert len(live) < n
    assert M.scan_table(spark, uri, [("name", "=", "user-0007")]).count() == 1


def test_delete_where_sql_prunes_with_parser(spark, tmp_path):
    uri = _interleaved_table(spark, tmp_path, n_files=4, per=32)
    # equality on the bloomed name column: only the containing file rewrites
    out = M.delete_where_sql(spark, uri, "name = 'user-0005'")
    assert out["files_rewritten"] < out["files_total"] == 4
    assert M.scan_table(spark, uri).filter("name = 'user-0005'").count() == 0
    assert M.scan_table(spark, uri).count() == 127
    # unparseable predicate still deletes correctly (full rewrite)
    out = M.delete_where_sql(spark, uri, "name = 'user-0006' OR name = 'user-0010'")
    assert out["files_rewritten"] == out["files_total"]
    assert M.scan_table(spark, uri).count() == 125


def test_bloom_survives_percent_encoded_paths(spark, tmp_path):
    """input_file_name() returns a percent-encoded URI; a data path with a
    space must still suffix-match its committed rel path, else the file's
    bitsets are silently dropped (pruning stays correct but the feature
    no-ops — ADVICE r5)."""
    base = tmp_path / "dir with space"
    base.mkdir()
    uri = str(base / "t")
    rows = spark.createDataFrame(
        [(f"user-{j:04d}", "/u", None, None, None, 0o644, j, 0, 0, 0, None) for j in range(16)],
        R.ROOTFS_SCHEMA,
    ).coalesce(1)
    R.write_table(rows, uri, mode="overwrite", bloom_cols=["name"])
    _, files, stats = latest_snapshot(LocalFsStore(os.path.join(uri, R._LOG_DIR)))
    assert files and all(
        "bloom" in stats[f] and "name" in stats[f]["bloom"] for f in files
    )
    # and the recorded bitset actually answers probes
    rec = stats[files[0]]["bloom"]["name"]
    assert bloom_may_contain(rec, "user-0003")


def test_bloom_build_skips_float_columns(spark, tmp_path):
    """No shared canonical string form exists for floats (Spark CAST vs
    Python str disagree on scientific notation), so build must skip float
    columns instead of recording bitsets that can never be probed."""
    import pytest

    from connected_data_lake_spark.sources.bloom import build_file_blooms

    out_dir = str(tmp_path / "f.parquet")
    spark.createDataFrame([(1, 0.5), (2, 1e20)], "id bigint, d double").coalesce(
        1
    ).write.parquet(out_dir)
    part = next(
        os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    with pytest.warns(UserWarning, match="non-probeable"):
        out = build_file_blooms(spark, {"rel.parquet": part}, ["d"])
    assert out == {}
    # mixed request keeps the probeable column
    with pytest.warns(UserWarning, match="non-probeable"):
        out = build_file_blooms(spark, {"rel.parquet": part}, ["id", "d"])
    assert set(out["rel.parquet"]) == {"id"}


def test_bloom_build_with_the_written_schema_skips_inference(spark, spark_jobs, tmp_path):
    """Given the writer's schema, the build reads its files without the
    schema-inference job a schemaless parquet read runs first."""
    from connected_data_lake_spark.sources.bloom import build_file_blooms

    out_dir = str(tmp_path / "w.parquet")
    df = spark.createDataFrame([(i, f"k{i}") for i in range(50)], "id bigint, k string")
    df.repartition(3).write.parquet(out_dir)
    paths = {f: os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".parquet")}
    inferred, jobs_inferred, _ = spark_jobs(lambda: build_file_blooms(spark, paths, ["k"]))
    given, jobs_given, _ = spark_jobs(lambda: build_file_blooms(spark, paths, ["k"], schema=df.schema))
    assert given == inferred and len(given) == 3
    assert jobs_given == jobs_inferred - 1
