"""Copy-on-write table maintenance: pruned scans, DELETE, upsert, compaction.

The reference's table is append/overwrite-only (Lance WriteMode::Append
behind the commit handler, crates/cdl-fs/src/lib.rs:822-853); a mutable
100 TB lake also needs row-level DELETE, key upsert (MERGE), and small-file
compaction. All three are the same move here — the move Delta/Iceberg/Lance
all converged on:

1. plan against an immutable snapshot (version, file list, zone maps),
2. use the zone maps to touch ONLY the files that can contain affected
   rows — on a large table a DELETE of one user's rows rewrites a handful
   of files, not the table,
3. rewrite those files through Spark (distributed, schema-inferred),
4. commit atomically via :func:`manifest.publish_rewrite` — concurrent
   appends are retained by the retry, a concurrent rewrite of the same
   files raises :class:`manifest.RewriteConflict` so the caller re-plans
   (never resurrects deleted rows).

Readers are never blocked and never see a partial state; historical
versions still resolve (time travel), and :func:`rootfs.vacuum_table`
reclaims the replaced files once history is no longer needed.
"""

from __future__ import annotations

import math
import os
import string
import unicodedata
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import LocalFsStore, latest_snapshot, publish_rewrite, snapshot_schema
from .rootfs import _data_files, _local_root, _LOG_DIR
from .zonemap import Filter, collect_file_stats, filters_to_column, prune_files


def _store(table_uri: str) -> tuple[str, LocalFsStore]:
    root = _local_root(table_uri)
    if root is None or not os.path.isdir(os.path.join(root, _LOG_DIR)):
        raise ValueError(
            f"{table_uri!r} is not a manifest-backed local table; "
            "maintenance ops need the transactional log"
        )
    return root, LocalFsStore(os.path.join(root, _LOG_DIR))


def _read(spark: SparkSession, root: str, store: LocalFsStore, files: list[str]) -> DataFrame:
    """Read ``files`` under the snapshot's RECORDED schema when one exists.

    Every copy-on-write rewrite reads a SUBSET of the table's files; with
    schema evolution in play an inferred read of that subset would take its
    shape from whichever file the reader samples, silently dropping evolved
    columns from the rewrite. The recorded schema pins the table shape —
    pre-evolution files fill NULL, post-evolution values survive."""
    reader = spark.read
    schema = snapshot_schema(store)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[os.path.join(root, f) for f in files])


#: ASCII characters java.net.URI leaves unquoted in a path component
_URI_PATH_CHARS = frozenset(string.ascii_letters + string.digits + "-_.!~*'()" + ":@&=+$,;/")


def file_path_uri(path: str) -> str:
    """Spark's ``_metadata.file_path`` for the local file ``path``: Hadoop's
    ``file:`` URI, quoted as ``java.net.URI`` quotes a path. ASCII outside
    the legal path characters is percent-encoded (``%`` itself too); other
    characters stay raw unless they are spaces or controls. So ``/a b/ü``
    is ``file:/a%20b/ü``, unlike ``inputFiles()``'s ``file:///`` form."""
    out = []
    for ch in os.path.abspath(path):
        if ch in _URI_PATH_CHARS or (
            ord(ch) > 127 and unicodedata.category(ch) not in ("Zs", "Zl", "Zp", "Cc")
        ):
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "file:" + "".join(out)


def select_files(relation: DataFrame, root: str, files: list[str], live: list[str]) -> DataFrame:
    """``relation``, a read of the snapshot ``files`` under ``root``,
    restricted to the rows of its ``live`` subset.

    Spark prunes a scan's file list on a ``_metadata.file_path``
    predicate, so one relation per snapshot serves every pruned read: the
    scan lists only the ``live`` files and no new file index is built (on
    a local filesystem without native Hadoop, building one forks ``ls``
    for every file's permissions). No survivor reads nothing."""
    if len(live) == len(files):
        return relation
    if not live:
        return relation.limit(0)
    uris = [file_path_uri(os.path.join(root, f)) for f in live]
    return relation.filter(F.col("_metadata.file_path").isin(uris))


def _write_rewrite(
    df: DataFrame, root: str, bloom_cols: list[str] | None = None
) -> tuple[list[str], dict]:
    """Write rewritten rows to a fresh invisible txn dir; return the new
    relative file list and their zone-map records (plus Bloom bitsets for
    ``bloom_cols`` — rewrites otherwise DROP the replaced files' bitsets,
    conservatively losing equality skipping until the next bloom write)."""
    txn = f"txn-{uuid.uuid4().hex}"
    out = os.path.join(root, txn)
    df.write.format("parquet").mode("overwrite").save(out)
    rel = [f"{txn}/{f}" for f in _data_files(out)]
    stats = {r: collect_file_stats(os.path.join(root, r)) for r in rel}
    if bloom_cols and rel:
        from .bloom import build_file_blooms

        blooms = build_file_blooms(
            df.sparkSession, {r: os.path.join(root, r) for r in rel}, bloom_cols, schema=df.schema
        )
        for r, recb in blooms.items():
            stats[r]["bloom"] = recb
    return rel, stats


def pruned_file_list(table_uri: str, filters: list[Filter] | None) -> tuple[list[str], int]:
    """(files that may contain matching rows, total files in snapshot).

    The planning primitive behind every operation below; exposed so tests
    and users can see data skipping working."""
    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    return prune_files(files, stats, filters), len(files)


def scan_table(
    spark: SparkSession,
    table_uri: str,
    filters: list[Filter] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Zone-map-pruned scan: list only the files the manifest stats cannot
    rule out, then re-apply the predicate exactly. Equivalent to
    ``read_table(...).filter(...)`` in results; at scale it plans a scan
    over the k matching files instead of the whole table."""
    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    if not files:
        raise ValueError(f"{table_uri!r} has no committed snapshot to scan")
    live = prune_files(files, stats, filters)
    if live:
        base = _read(spark, root, store, live)
    elif (schema := snapshot_schema(store)) is not None:
        base = spark.createDataFrame([], schema)
    else:  # a manifest from before schemas were recorded
        base = _read(spark, root, store, files[:1]).limit(0)
    if filters:
        base = base.filter(filters_to_column(filters))
    if columns:
        base = base.select(*columns)
    return base


def delete_where(
    spark: SparkSession,
    table_uri: str,
    filters: list[Filter],
    bloom_cols: list[str] | None = None,
) -> dict:
    """Row-level DELETE, copy-on-write.

    Only files whose zone maps admit a match are read and rewritten with
    the surviving rows (predicate-NULL rows survive, per SQL DELETE);
    every other file is carried into the new snapshot untouched. Returns
    ``{"files_rewritten": k, "files_total": n, "version": v}``; a no-op
    (nothing can match) commits nothing."""
    if not filters:
        raise ValueError("delete_where requires a predicate; use overwrite to truncate")
    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    candidates = prune_files(files, stats, filters)
    if not candidates:
        return {"files_rewritten": 0, "files_total": len(files), "version": None}
    src = _read(spark, root, store, candidates)
    keep = src.filter(~F.coalesce(filters_to_column(filters), F.lit(False)))
    rel, new_stats = _write_rewrite(keep, root, bloom_cols)
    version = publish_rewrite(store, set(candidates), rel, stats=new_stats)
    return {"files_rewritten": len(candidates), "files_total": len(files), "version": version}


def delete_where_sql(
    spark: SparkSession, table_uri: str, condition: str, bloom_cols: list[str] | None = None
) -> dict:
    """Row-level DELETE with an arbitrary SQL predicate.

    Simple conjunctions prune via :func:`zonemap.parse_condition` (only
    files whose stats admit a match are rewritten — the SQL string itself
    remains the applied predicate); anything unparseable rewrites every
    file. Same NULL semantics: predicate-NULL rows survive."""
    from .zonemap import parse_condition

    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    if not files:
        return {"files_rewritten": 0, "files_total": 0, "version": None}
    filters = parse_condition(condition)
    candidates = prune_files(files, stats, filters) if filters else list(files)
    if not candidates:
        return {"files_rewritten": 0, "files_total": len(files), "version": None}
    src = _read(spark, root, store, candidates)
    keep = src.filter(~F.coalesce(F.expr(condition), F.lit(False)))
    rel, new_stats = _write_rewrite(keep, root, bloom_cols)
    version = publish_rewrite(store, set(candidates), rel, stats=new_stats)
    return {"files_rewritten": len(candidates), "files_total": len(files), "version": version}


def upsert_table(
    spark: SparkSession,
    table_uri: str,
    updates: DataFrame,
    key_cols: list[str],
    bloom_cols: list[str] | None = None,
) -> dict:
    """Key-based MERGE (upsert): rows in ``updates`` replace same-key rows,
    new keys append. Candidate files are found by overlapping each file's
    key-column zone map with the updates' key range, so a trickle of
    updates touches a trickle of files. The anti-join side broadcasts the
    updates (MERGE batches are dimension-sized; a 100 TB-scale batch would
    flip this to a shuffle join on the key)."""
    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    bounds = updates.agg(
        *[F.min(c).alias(f"lo_{i}") for i, c in enumerate(key_cols)],
        *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(key_cols)],
    ).first()
    key_filters: list[Filter] = [
        (c, "between", (bounds[f"lo_{i}"], bounds[f"hi_{i}"]))
        for i, c in enumerate(key_cols)
        if bounds[f"lo_{i}"] is not None
    ]
    if not key_filters:
        # empty updates batch (or every merge key NULL — degenerate for a
        # key-based MERGE: NULL never equals, so nothing can match). Without
        # this guard the empty filter list means "keep all files" to
        # prune_files and a no-op MERGE rewrote the ENTIRE table as one
        # commit, dropping every file's Bloom bitset (ADVICE r5).
        return {"files_rewritten": 0, "files_total": len(files), "version": None}
    candidates = prune_files(files, stats, key_filters)
    if candidates:
        src = _read(spark, root, store, candidates)
        updates = updates.select(*src.columns)  # align column order/set
        keep = src.join(F.broadcast(updates.select(*key_cols)), on=key_cols, how="left_anti")
        out = keep.unionByName(updates)
    else:
        if files:
            updates = updates.select(*_read(spark, root, store, files[:1]).columns)
        out = updates
    rel, new_stats = _write_rewrite(out, root, bloom_cols)
    version = publish_rewrite(store, set(candidates), rel, stats=new_stats)
    return {"files_rewritten": len(candidates), "files_total": len(files), "version": version}


def zorder_table(
    spark: SparkSession,
    table_uri: str,
    cols: list[str],
    target_bytes: int = 128 * 1024 * 1024,
    bits: int | None = None,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Re-cluster the whole table along a Z-curve over ``cols`` (the
    OPTIMIZE ZORDER BY move): rows are range-partitioned and sorted by
    their Morton code (sources/zorder.py), so each rewritten file covers a
    small hyper-rectangle of the key space and the zone maps prune
    selective predicates on ANY of ``cols`` — not just a lead sort key.

    Pure layout change: same rows, new files, one atomic rewrite commit
    (concurrent appends survive via the manifest retry; a concurrent
    rewrite raises RewriteConflict). The shuffle is one range exchange on
    the code — exactly the shuffle any global sort pays — and output file
    count is sized from current bytes / ``target_bytes`` so clustering
    and compaction land in the same pass."""
    from .zorder import DEFAULT_BITS, morton_code

    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    if not files:
        return {"files_rewritten": 0, "files_total": 0, "version": None}
    total = sum(os.path.getsize(os.path.join(root, f)) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    src = _read(spark, root, store, files)
    code = morton_code(src, cols, bits or DEFAULT_BITS)
    clustered = (
        src.withColumn("__z", code)
        .repartitionByRange(n_out, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    rel, new_stats = _write_rewrite(clustered, root, bloom_cols)
    version = publish_rewrite(store, set(files), rel, stats=new_stats)
    return {"files_rewritten": len(files), "files_total": len(files), "version": version}


def compact_table(
    spark: SparkSession,
    table_uri: str,
    target_bytes: int = 128 * 1024 * 1024,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Bin-pack small files into ~``target_bytes`` files (OPTIMIZE).

    A steady trickle of transactional appends leaves a long tail of small
    files; small files are the classic killer of big scans (task-per-file
    scheduling, footer-per-file opens). Files already ≥ 3/4 of the target
    are left alone — compaction must not rewrite the whole table each run.
    Pure layout change: same rows, new files, one rewrite commit."""
    root, store = _store(table_uri)
    _, files, stats = latest_snapshot(store)
    sized = [(f, os.path.getsize(os.path.join(root, f))) for f in files]
    small = [(f, s) for f, s in sized if s < target_bytes * 3 // 4]
    if len(small) < 2:
        return {"files_compacted": 0, "files_total": len(files), "version": None}
    total = sum(s for _, s in small)
    n_out = max(1, math.ceil(total / target_bytes))
    src = _read(spark, root, store, [f for f, _ in small]).coalesce(n_out)
    rel, new_stats = _write_rewrite(src, root, bloom_cols)
    version = publish_rewrite(store, {f for f, _ in small}, rel, stats=new_stats)
    return {"files_compacted": len(small), "files_total": len(files), "version": version}
