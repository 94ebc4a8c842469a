"""One benchmark run, started by ``run.py`` in a fresh, isolated directory.

    python3 -m perfbench.harness --workload W --seed N --trace 0|1
        --workdir DIR --results FILE [--sf SF] [--files N]

Order of a run:

1. the code-tree check in the driver (before Spark starts);
2. the Spark session, and one Python worker per core, each of which
   reports where it imports the package from (the same check);
3. the workload's set-up, repeated ``SETUP_REPS`` times on fresh copies of
   its inputs (the last copy is kept);
4. one timed pass: the session's first pass over the op list, JVM
   warm-up included;
5. for the suite workloads, an untimed pass that checks every query's
   result against the DuckDB oracle hash (``lake_rw`` checks each op
   against its model as it goes);
6. metrics. The last stdout line is the JSON result.

One closed-loop client issues every op; the next op starts when the last
one has returned. With ``--trace 1`` the layer modules are wrapped from
here, spans are recorded in memory and written to the results directory at
exit, and the per-layer metrics are printed instead of the end-to-end ones.
Each op's Spark jobs are counted in job group ``op{id}:exec``, except the
jobs fired while a suite query's DataFrame is built, which go to
``op{id}:build``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import config as cfg
from perfbench import lake, spans, sparkstats, suite

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MB = 1e6


class CodeTreeError(SystemExit):
    pass


def check_code_tree(path: str, where: str) -> None:
    real = os.path.realpath(path)
    if os.path.commonpath([real, os.path.realpath(ROOT)]) != os.path.realpath(ROOT):
        raise CodeTreeError(f"{where} imported the package from {real}, outside the checkout {ROOT}")


def worker_package_files(spark, n: int) -> set[str]:
    """Where the Python workers import the package from, asked of ``n``
    workers at once through an Arrow UDF (which also loads pandas and
    pyarrow into them)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def where(ids: pd.Series) -> pd.Series:
        import connected_data_lake_spark

        return pd.Series([connected_data_lake_spark.__file__] * len(ids))

    rows = spark.range(0, n * 16, numPartitions=n).select(where("id").alias("f")).distinct().collect()
    return {r["f"] for r in rows}


@dataclass
class OpRecord:
    timed: bool
    name: str
    kind: str
    latency: float
    ok: bool
    op_id: int


class Run:
    """State shared by the workloads: session, tracer, op records."""

    def __init__(self, spark, tracer: spans.Tracer, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.trace = trace
        self.records: list[OpRecord] = []
        self.op_walls: dict[int, float] = {}
        self.exec_totals = sparkstats.StageTotals()
        self.build_jobs = 0
        self.catalyst: dict[str, float] = defaultdict(float)
        self.python: dict[str, float] = defaultdict(float)
        self.exec_wall = 0.0
        self.build_wall_pending = 0.0  # the current op's query construction
        self.jqe_pending = None  # and the QueryExecution it materialized
        self.leaks = 0
        self._next_op = 0
        self.timing = False  # False outside the timed pass
        self.errors: list[str] = []

    def _group(self, phase: str) -> None:
        if self.trace:
            sparkstats.set_group(self.spark, f"op{self.tracer.op}:{phase}")

    @contextmanager
    def building(self):
        """Query construction inside an op: its jobs go to the build group."""
        self._group("build")
        t0 = time.perf_counter()
        try:
            with self.tracer.span("plans:build"):
                yield
        finally:
            self.build_wall_pending += time.perf_counter() - t0
            self._group("exec")

    # materialization of a DataFrame inside an op, JVM-side
    def execute(self, df):
        with self.tracer.span("exec:run"):
            jqe = df._jdf.queryExecution()
            n = jqe.executedPlan().execute().count()
        self.jqe_pending = jqe
        return n

    def op(self, name: str, kind: str, fn, check=None):
        """Time ``fn()``; then, outside the timed window, run ``check`` on
        its result. A raise or a failed check marks the op failed."""
        op_id = self._next_op
        self._next_op += 1
        self.tracer.op = op_id
        self.build_wall_pending = 0.0
        self.jqe_pending = None
        self._group("exec")
        result, ok = None, True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench:{name}"):
                result = fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, the run goes on
            ok = False
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        latency = time.perf_counter() - t0
        self.tracer.op = None
        if self.trace:
            sparkstats.set_group(self.spark, None)
        if ok and check is not None:
            try:
                ok = bool(check(result))
                if not ok:
                    self.errors.append(f"{name}: output check failed")
            except Exception as exc:  # noqa: BLE001
                ok = False
                self.errors.append(f"{name}: check raised {type(exc).__name__}: {str(exc)[:300]}")
        self.records.append(OpRecord(self.timing, name, kind, latency, ok, op_id))
        if self.trace and self.timing:
            self.op_walls[op_id] = latency
            self._collect_layers(op_id, latency)
        return result

    def _collect_layers(self, op_id: int, latency: float) -> None:
        sparkstats.wait_for_listeners(self.spark)
        self.build_jobs += sparkstats.group_totals(self.spark, f"op{op_id}:build").jobs
        self.exec_totals.add(sparkstats.group_totals(self.spark, f"op{op_id}:exec"))
        self.exec_wall += latency - self.build_wall_pending
        if self.jqe_pending is not None:
            for k, v in sparkstats.catalyst_phases(self.jqe_pending).items():
                self.catalyst[k] += v
            for k, v in sparkstats.python_nodes(self.jqe_pending).items():
                self.python[k] += v

    def timed(self, kinds=None) -> list[OpRecord]:
        return [r for r in self.records if r.timed and (kinds is None or r.kind in kinds)]


# -- suite workloads ----------------------------------------------------------


class SuiteWorkload:
    def __init__(self, name: str, run: Run, workdir: str, sf: str) -> None:
        self.name = name
        self.run = run
        self.workdir = workdir
        self.sf = sf
        self.specs = suite.resolve(suite.WORKLOAD_QUERIES[name])
        self.oracle = suite.load_oracle(sf)
        self.canonicalize = suite.oracle_tool().canonicalize
        self.sf_dir = None
        self.registry_ids: set[int] = set()
        self.setup_parts: dict[str, float] = {}

    def setup(self, rep: int) -> float:
        from connected_data_lake_spark.operators.dedup import release_session_indexes, track_session_indexes
        from connected_data_lake_spark.sources.tables import persist_tables

        spark = self.run.spark
        if self.sf_dir is not None:  # release the previous repetition's copy
            spark.catalog.clearCache()
            release_session_indexes()
        t0 = time.perf_counter()
        sf_dir = os.path.join(self.workdir, f"inputs{rep}", self.sf)
        shutil.copytree(os.path.join(cfg.DATA_DIR, self.sf), sf_dir)
        t1 = time.perf_counter()
        track_session_indexes(True)
        release_session_indexes()
        self.registry_ids = persist_tables(spark, sf_dir)
        t2 = time.perf_counter()
        self.sf_dir = sf_dir
        self.setup_parts = {"copy_s": t1 - t0, "pin_s": t2 - t1}
        return t2 - t0

    def _release(self, df) -> None:
        from connected_data_lake_spark.operators.dedup import release_index, release_session_indexes
        from connected_data_lake_spark.sources.tables import persist_tables, stray_cache_ids

        if df is not None:
            release_index(df)
        release_session_indexes()
        if stray_cache_ids(self.run.spark, self.registry_ids):
            self.run.leaks += 1
            self.run.spark.catalog.clearCache()
            self.registry_ids = persist_tables(self.run.spark, self.sf_dir)

    def check_pass(self) -> None:
        """Untimed, after the timed pass: collect each query's result and
        compare its canonical hash with the DuckDB oracle's."""
        for name, spec in self.specs:
            want = self.oracle[name]
            holder = {}

            def fn(spec=spec, holder=holder):
                df = spec.spark(self.run.spark, self.sf_dir)
                holder["df"] = df
                return df.toPandas()

            def check(pdf, want=want):
                n, cols, digest, _ = self.canonicalize(pdf)
                return n == want["rows"] and cols == want["columns"] and digest == want["hash"]

            self.run.op(name, "read", fn, check)
            self._release(holder.get("df"))

    def timed_pass(self) -> None:
        run = self.run
        for name, spec in self.specs:
            holder = {}

            def fn(spec=spec, holder=holder):
                with run.building():
                    df = spec.spark(run.spark, self.sf_dir)
                holder["df"] = df
                return run.execute(df)

            run.op(name, "read", fn, lambda n, name=name: n == self.oracle[name]["rows"])
            self._release(holder.get("df"))


# -- lake_rw ------------------------------------------------------------------


class LakeWorkload:
    def __init__(self, run: Run, workdir: str, seed: int, n_files: int) -> None:
        from connected_data_lake_spark import Cdl

        self.run = run
        self.workdir = workdir
        self.seed = seed
        self.n_files = n_files
        self.cdl = Cdl(run.spark)
        self.tree: lake.Tree | None = None
        self.fs = None
        self.setup_parts: dict[str, float] = {}
        # bytes of files the timed pass created, in all, under the format
        # exports and by maintenance in the table; files and bytes ``load``
        # wrote; the table's size after ``vacuum`` over the live user bytes
        self.created = 0
        self.fmt_created = 0
        self.rewrite = 0
        self.load_written = (0, 0)
        self.space_amp = 0.0

    def setup(self, rep: int) -> float:
        if self.tree is not None:
            lake.remove(self.tree.root)
        t0 = time.perf_counter()
        root = os.path.join(self.workdir, f"tree{rep}")
        self.tree = lake.generate_tree(root, self.n_files, self.seed)
        self.fs = self.cdl.open(f"local://{root}")
        elapsed = time.perf_counter() - t0
        self.setup_parts = {"tree_s": elapsed, "user_mb": self.tree.user_bytes / MB}
        return elapsed

    # storage accounting ------------------------------------------------------

    @property
    def table_dir(self) -> str:
        return self.fs.path.table_uri

    def _roots(self) -> list[str]:
        return [self.table_dir, os.path.join(self.workdir, "out")]

    def _snapshot(self) -> dict[str, int]:
        out = {}
        for r in self._roots():
            out.update(lake.file_set(r))
        return out

    def _account(self, before: dict[str, int], maintenance: bool) -> dict[str, int]:
        after = self._snapshot()
        new = {k: v for k, v in after.items() if k not in before}
        self.created += sum(new.values())
        fmt_root = os.path.join(self.workdir, "out", "fmt")
        self.fmt_created += sum(v for k, v in new.items() if k.startswith(fmt_root))
        if maintenance:
            self.rewrite += sum(v for k, v in new.items() if k.startswith(self.table_dir))
        return new

    # the pass ----------------------------------------------------------------

    def lake_op(self, name, kind, fn, check=None, maintenance=False) -> dict[str, int]:
        """Run one op; return the files it created under the storage roots."""
        before = self._snapshot()
        self.run.op(name, kind, fn, check)
        return self._account(before, maintenance)

    def count_rows(self, where: str = "TRUE") -> int:
        return self.fs.sql(f"SELECT count(*) AS n FROM rootfs WHERE {where}").first()["n"]

    def one_pass(self) -> None:
        run, fs, tree = self.run, self.fs, self.tree
        spark = run.spark
        out = os.path.join(self.workdir, "out")
        os.makedirs(out)
        model = lake.Model(tree)
        dirs = tree.dirs
        rng = np.random.default_rng(self.seed + 1)
        probe_dirs = [dirs[i] for i in rng.choice(len(dirs), size=min(10, len(dirs)), replace=False)]
        deleted_dir, upsert_dir, files_dir = probe_dirs[0], probe_dirs[1], probe_dirs[2]
        probe_file = sorted(model.in_dir(probe_dirs[3]) or model.files)[0]
        lo_dir, hi_dir = dirs[len(dirs) // 4], dirs[min(len(dirs) - 1, len(dirs) // 4 + 4)]

        # ingest
        new = self.lake_op(
            "load",
            "commit",
            lambda: fs.load(max_chunk_size=lake.CHUNK, bloom_cols=["name"]),
            lambda _: self.count_rows() == model.rows(),
        )
        self.load_written = (len(new), sum(new.values()))

        # reads
        for d in probe_dirs:
            self.lake_op("read_dir", "read", lambda d=d: run.execute(fs.read_dir(d)), lambda n, d=d: n == len(model.in_dir(d)))
        self.lake_op("read_dir_all", "read", lambda: run.execute(fs.read_dir_all()), lambda n: n == len(model.files))
        cond = f"parent = '{files_dir}' AND size > 4096"
        want = sum(1 for f in model.in_dir(files_dir) if model.files[f] > 4096)
        self.lake_op("read_files", "read", lambda: run.execute(fs.read_files(cond)), lambda n: n == want)
        name = os.path.basename(probe_file)
        self.lake_op(
            "scan_bloom",
            "read",
            lambda: run.execute(fs.scan([("name", "=", name)])),
            lambda n: n == model.rows([probe_file]),
        )
        zone = [("parent", ">=", lo_dir), ("parent", "<", hi_dir)]

        def zone_rows() -> int:
            return model.rows([f for f in model.files if lo_dir <= "/" + os.path.dirname(f) < hi_dir])

        self.lake_op("scan_zonemap", "read", lambda: run.execute(fs.scan(zone)), lambda n: n == zone_rows())
        sql = "SELECT parent, count(*) AS n, sum(len(data)) AS b FROM rootfs GROUP BY parent"
        by_dir = {d: (model.rows(model.in_dir(d)), sum(model.files[f] for f in model.in_dir(d))) for d in dirs}
        self.lake_op(
            "sql",
            "read",
            lambda: fs.sql(sql).collect(),
            lambda rows: {r["parent"]: (r["n"], r["b"]) for r in rows} == by_dir,
        )
        # no `take`: CdlFS.take returns wrong rows (see README), and a
        # workload's ops must not fail; the benchmark's tests keep the
        # defect in view

        # writes
        gone = model.in_dir(deleted_dir)
        left = model.rows() - model.rows(gone)
        self.lake_op(
            "delete",
            "commit",
            lambda: fs.delete([("parent", "=", deleted_dir)]),
            lambda _: self.count_rows() == left,
            maintenance=True,
        )
        for f in gone:
            del model.files[f]

        from pyspark.sql import functions as F

        def upsert():
            updates = fs.table().filter((F.col("parent") == upsert_dir) & F.col("size").isNotNull())
            return fs.upsert(updates.withColumn("mode", F.lit(lake.NEW_MODE).cast("long")), ["parent", "name", "chunk_id"])

        upserted = model.in_dir(upsert_dir)
        self.lake_op(
            "upsert",
            "commit",
            upsert,
            lambda _: self.count_rows() == model.rows()
            and self.count_rows(f"parent = '{upsert_dir}' AND mode = {lake.NEW_MODE}") == len(upserted),
            maintenance=True,
        )
        for f in upserted:
            model.modes[f] = lake.NEW_MODE
        self.lake_op("optimize", "commit", lambda: fs.optimize(), lambda _: self.count_rows() == model.rows(), maintenance=True)
        self.lake_op(
            "optimize_zorder",
            "commit",
            lambda: fs.optimize(zorder_by=["parent", "size"], target_bytes=4 * 1024 * 1024),
            lambda _: self.count_rows() == model.rows(),
            maintenance=True,
        )
        self.lake_op("scan_zonemap", "read", lambda: run.execute(fs.scan(zone)), lambda n: n == zone_rows())
        copy_root = os.path.join(out, "copy")
        self.lake_op("copy_to", "write", lambda: fs.copy_to(f"local://{copy_root}"), lambda _: self._same_bytes(model, copy_root))
        self.lake_op("vacuum", "write", lambda: fs.vacuum(0), lambda _: self.count_rows() == model.rows(), maintenance=True)
        self.space_amp = lake.dir_bytes(self.table_dir) / max(1, model.live_bytes())

        # lake formats
        fmt = os.path.join(out, "fmt")
        dpath, ipath, hpath = (os.path.join(fmt, x) for x in ("delta", "iceberg", "hudi"))
        self.lake_op("to_delta_table", "commit", lambda: fs.to_delta_table(dpath, stmt=lake.META_SQL))
        self.lake_op("to_iceberg_table", "commit", lambda: fs.to_iceberg_table(ipath, stmt=lake.META_SQL))
        self.lake_op("to_hudi_table", "commit", lambda: fs.to_hudi_table(hpath, record_key="path", stmt=lake.META_SQL))
        from connected_data_lake_spark.sources import delta, delta_write, hudi, iceberg, iceberg_write

        fmt_model = {f"/{f}": model.modes[f] for f in model.files}
        del_d, del_i = probe_dirs[4], probe_dirs[5]
        self.lake_op("delete_from_delta", "commit", lambda: delta_write.delete_from_delta(spark, dpath, f"parent = '{del_d}'"))
        merge_keys = sorted(f"/{f}" for f in model.in_dir(probe_dirs[6]))

        def merge():
            src = spark.createDataFrame([(k, 0o640) for k in merge_keys], "path string, mode long")
            return delta_write.merge_into_delta(
                spark, dpath, src, on=["path"], when_matched_update={"mode": "src.mode"}, when_not_matched_insert=False
            )

        self.lake_op("merge_into_delta", "commit", merge)
        self.lake_op("delete_from_iceberg", "commit", lambda: iceberg_write.delete_from_iceberg(spark, ipath, f"parent = '{del_i}'"))
        want_delta = {k: (0o640 if k in merge_keys else v) for k, v in fmt_model.items() if not k.startswith(del_d + "/")}
        want_iceberg = {k: v for k, v in fmt_model.items() if not k.startswith(del_i + "/")}
        for label, reader, path, want in (
            ("read_delta", delta.read_delta, dpath, want_delta),
            ("read_iceberg", iceberg.read_iceberg, ipath, want_iceberg),
            ("read_hudi", hudi.read_hudi, hpath, fmt_model),
        ):
            holder = {}

            def fn(reader=reader, path=path, holder=holder):
                df = reader(spark, path)
                holder["df"] = df
                return run.execute(df)

            self.lake_op(
                label,
                "read",
                fn,
                lambda n, want=want, holder=holder: n == len(want)
                and {r["path"]: r["mode"] for r in holder["df"].select("path", "mode").collect()} == want,
            )

    def _same_bytes(self, model: lake.Model, copy_root: str) -> bool:
        for rel in model.files:
            with open(os.path.join(self.tree.root, rel), "rb") as a, open(os.path.join(copy_root, rel), "rb") as b:
                if a.read() != b.read():
                    return False
        copied = sum(len(n) for _, _, n in os.walk(copy_root))
        return copied == len(model.files)

    def timed_pass(self) -> None:
        from connected_data_lake_spark.sources.tables import stray_cache_ids

        self.one_pass()
        if stray_cache_ids(self.run.spark, set()):  # nothing should stay cached
            self.run.leaks += 1
            self.run.spark.catalog.clearCache()


# -- layers wrapped in a traced run -------------------------------------------

LAYER_MODULES = (
    ("rootfs", "connected_data_lake_spark.sources.rootfs"),
    ("manifest", "connected_data_lake_spark.sources.manifest"),
    ("zonemap", "connected_data_lake_spark.sources.zonemap"),
    ("bloom", "connected_data_lake_spark.sources.bloom"),
    ("maintenance", "connected_data_lake_spark.sources.maintenance"),
    ("delta_write", "connected_data_lake_spark.sources.delta_write"),
    ("iceberg_write", "connected_data_lake_spark.sources.iceberg_write"),
    ("hudi", "connected_data_lake_spark.sources.hudi"),
    ("delta", "connected_data_lake_spark.sources.delta"),
    ("iceberg", "connected_data_lake_spark.sources.iceberg"),
    ("tables", "connected_data_lake_spark.sources.tables"),
    ("dedup", "connected_data_lake_spark.operators.dedup"),
)
CDLFS_APIS = (
    "load",
    "read_dir",
    "read_dir_all",
    "read_files",
    "scan",
    "sql",
    "delete",
    "upsert",
    "optimize",
    "copy_to",
    "vacuum",
    "to_delta_table",
    "to_iceberg_table",
    "to_hudi_table",
)
WRITER_LAYERS = ("delta_write", "iceberg_write")
HUDI_WRITERS = ("write_hudi", "upsert_hudi_mor", "delete_from_hudi_mor", "compact_hudi_mor", "archive_hudi_instants")


def install_tracing(tracer: spans.Tracer) -> None:
    import importlib

    from connected_data_lake_spark.filesystem import CdlFS

    def prune_hook(args, kwargs, result):
        files = args[0] if args else kwargs["files"]
        tracer.count("prune.files_total", len(files))
        tracer.count("prune.files_read", len(result))

    def commit_hook(args, kwargs, result):
        tracer.count("manifest.commits")

    hooks = {
        "zonemap": {"prune_files": prune_hook},
        "manifest": {"publish_manifest": commit_hook, "publish_rewrite": commit_hook},
    }
    for layer, mod_name in LAYER_MODULES:
        tracer.wrap_module(importlib.import_module(mod_name), layer, hooks.get(layer))
    tracer.wrap_methods(CdlFS, "cdlfs", list(CDLFS_APIS))


# -- metrics ------------------------------------------------------------------


def pct(values: list[float], q: float, grid: int = 200) -> float:
    """The ``q``-th percentile by the Harrell-Davis estimator: a weighted
    mean of all order statistics, with beta-distribution weights centred on
    the percentile. With a few dozen ops a pass, it reads far steadier run
    to run than a single order statistic, which jumps between neighbouring
    ops."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n < 2:
        return float(x[0]) if n else 0.0
    a, b = (n + 1) * q / 100, (n + 1) * (1 - q / 100)
    t = (np.arange(n * grid) + 0.5) / (n * grid)
    density = np.exp((a - 1) * np.log(t) + (b - 1) * np.log1p(-t))
    weights = density.reshape(n, grid).sum(axis=1)
    return float(weights @ x / weights.sum())


def end_to_end(run: Run, pass_s: float, setup_s: float) -> dict:
    lat = [r.latency for r in run.timed()]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (pct(lat, 50), "s"),
        "op_p90_s": (pct(lat, 90), "s"),
    }


def per_layer(run: Run, wl, pass_s: float, extra: dict) -> dict:
    tracer = run.tracer
    timed_ops = {r.op_id for r in run.timed()}
    sp = [s for s in tracer.spans if s.op in timed_ops]
    by_layer = spans.self_time_totals(tracer.spans, timed_ops)
    by_name = spans.self_time_totals(tracer.spans, timed_ops, by_layer=False)
    counters: dict[str, float] = defaultdict(float)
    read_ops = {r.op_id for r in run.timed({"read"})}
    for (op, key), v in tracer.counters.items():
        if op in timed_ops and (not key.startswith("prune.") or op in read_ops):
            counters[key] += v
    ex = run.exec_totals
    cores = cfg.cpus()
    m = {
        "peak_rss_mb": (extra["peak_rss_mb"], "MB"),
        "session.start_s": (extra["session_start_s"], "s"),
        "jvm.gc_s": (extra["gc_s"], "s"),
        "plans.build_s": (by_layer.get("plans", 0.0), "s"),
        "plans.build_jobs": (run.build_jobs, "count"),
        "catalyst.analysis_s": (run.catalyst["analysis"], "s"),
        "catalyst.optimization_s": (run.catalyst["optimization"], "s"),
        "catalyst.planning_s": (run.catalyst["planning"], "s"),
        "exec.wall_s": (run.exec_wall, "s"),
        "exec.jobs": (ex.jobs, "count"),
        "exec.stages": (ex.stages, "count"),
        "exec.tasks": (ex.tasks, "count"),
        "exec.executor_run_s": (ex.executor_run_s, "s"),
        "exec.executor_cpu_s": (ex.executor_cpu_s, "s"),
        "exec.coordination_s": (run.exec_wall - ex.executor_run_s / cores, "s"),
        "exec.shuffle_read_mb": (ex.shuffle_read_mb, "MB"),
        "exec.shuffle_write_mb": (ex.shuffle_write_mb, "MB"),
        "exec.spill_mb": (ex.spill_mb, "MB"),
        "operators.python_nodes": (run.python["nodes"], "count"),
        "operators.python_rows": (run.python["rows"], "count"),
        "operators.python_mb": (run.python["mb"], "MB"),
        "tables.pin_s": (extra.get("pin_s", 0.0), "s"),
        "index.build_s": (by_layer.get("dedup", 0.0), "s"),
        "cache.pinned_mb": (extra.get("pinned_mb", 0.0), "MB"),
        "cache.leaks": (run.leaks, "count"),
    }
    for api in CDLFS_APIS:
        m[f"cdlfs.{api}_s"] = (by_name.get(f"cdlfs:{api}", 0.0), "s")
    lake_wl = wl if isinstance(wl, LakeWorkload) else None
    loads = [r.latency for r in run.timed() if r.name == "load"]
    user_mb = lake_wl.tree.user_bytes / MB if lake_wl else 0.0
    commits = [r.latency for r in run.timed({"commit"})]
    reads = [r.latency for r in run.timed({"read"})]
    hudi_write = sum(v for k, v in by_name.items() if k.split(":", 1)[-1] in HUDI_WRITERS and k.startswith("hudi:"))
    m.update(
        {
            "rootfs.ingest_s": (by_name.get("rootfs:ingest_dir", 0.0), "s"),
            "rootfs.write_s": (by_name.get("rootfs:write_table", 0.0), "s"),
            "rootfs.files_written": (lake_wl.load_written[0] if lake_wl else 0, "count"),
            "rootfs.mb_written": (lake_wl.load_written[1] / MB if lake_wl else 0.0, "MB"),
            "prune.files_total": (counters["prune.files_total"], "count"),
            "prune.files_read": (counters["prune.files_read"], "count"),
            "prune.read_ratio": (
                counters["prune.files_read"] / counters["prune.files_total"] if counters["prune.files_total"] else 0.0,
                "ratio",
            ),
            "manifest.commits": (counters["manifest.commits"], "count"),
            "manifest.snapshot_s": (by_name.get("manifest:latest_snapshot", 0.0), "s"),
            "maintenance.s": (by_layer.get("maintenance", 0.0), "s"),
            "maintenance.rewrite_mb": (lake_wl.rewrite / MB if lake_wl else 0.0, "MB"),
            "delta.commit_s": (by_layer.get("delta_write", 0.0), "s"),
            "iceberg.commit_s": (by_layer.get("iceberg_write", 0.0), "s"),
            "hudi.commit_s": (hudi_write, "s"),
            "lakefmt.mb_written": (lake_wl.fmt_created / MB if lake_wl else 0.0, "MB"),
            "delta.replay_s": (by_name.get("delta:read_delta", 0.0), "s"),
            "iceberg.replay_s": (by_name.get("iceberg:read_iceberg", 0.0), "s"),
            "hudi.replay_s": (by_name.get("hudi:read_hudi", 0.0), "s"),
            "ingest_mb_s": (user_mb / loads[0] if loads else 0.0, "MB/s"),
            "read_p50_s": (pct(reads, 50), "s"),
            "read_p90_s": (pct(reads, 90), "s"),
            "commit_p50_s": (pct(commits, 50), "s"),
            "commit_p90_s": (pct(commits, 90), "s"),
            "write_amp": (lake_wl.created / (user_mb * MB) if lake_wl else 0.0, "ratio"),
            "space_amp": (lake_wl.space_amp if lake_wl else 0.0, "ratio"),
            "trace.pass_s": (pass_s, "s"),
            "trace.selfsum_err_ms": (
                max(spans.op_self_sum_errors(tracer.spans, run.op_walls).values(), default=0.0) * 1e3,
                "ms",
            ),
        }
    )
    for layer in ("bench", "plans", "exec", "cdlfs") + tuple(x for x, _ in LAYER_MODULES):
        m[f"self.{layer}_s"] = (by_layer.get(layer, 0.0), "s")
    m["trace.writer_spans"] = (
        sum(1 for s in sp if s.layer in WRITER_LAYERS + ("maintenance",) or s.name.split(":", 1)[-1] in HUDI_WRITERS),
        "count",
    )
    return m


def process_memory() -> list[dict]:
    """Peak (VmHWM) and current (VmRSS) resident set, in MB, of this
    process and every process it started: the JVM and the Python workers."""
    me = os.getpid()
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {me}, [me]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    out = []
    for pid in sorted(tree):
        rec = {"pid": pid}
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    key, _, rest = line.partition(":")
                    if key == "Name":
                        rec["name"] = rest.strip()
                    elif key in ("VmHWM", "VmRSS"):
                        rec[key] = int(rest.split()[0]) / 1024
        except OSError:
            continue
        out.append(rec)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=cfg.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--results", required=True)
    ap.add_argument("--sf", default=cfg.SUITE_SF, help="suite input scale")
    ap.add_argument("--files", type=int, default=cfg.LAKE_FILES, help="lake_rw tree size")
    args = ap.parse_args(argv)
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    trace = bool(args.trace)

    import connected_data_lake_spark

    check_code_tree(connected_data_lake_spark.__file__, "the driver")
    from connected_data_lake_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    # the Python workers start here, one per core, so no timed op pays
    # for starting them
    for path in worker_package_files(spark, cfg.cpus()):
        check_code_tree(path, "a Python worker")
    session_start_s = time.time() - t_start

    tracer = spans.Tracer(enabled=trace)
    run = Run(spark, tracer, trace)
    if args.workload == "lake_rw":
        wl = LakeWorkload(run, args.workdir, args.seed, args.files)
    else:
        wl = SuiteWorkload(args.workload, run, args.workdir, args.sf)
    phases = {"session": session_start_s}
    t_phase = time.perf_counter()
    reps, parts = [], []
    for rep in range(SETUP_REPS):
        reps.append(wl.setup(rep))
        parts.append(dict(wl.setup_parts))
    setup_s = session_start_s + statistics.median(reps)
    extra = {"session_start_s": session_start_s}
    if "pin_s" in parts[0]:
        extra["pin_s"] = statistics.median(p["pin_s"] for p in parts)
    if isinstance(wl, SuiteWorkload):
        extra["pinned_mb"] = sparkstats.cached_mb(spark, wl.registry_ids)

    phases["setup"] = time.perf_counter() - t_phase
    t_phase = time.perf_counter()
    if trace:
        install_tracing(tracer)
    gc0 = sparkstats.jvm_gc_s(spark)
    run.timing = True
    wl.timed_pass()
    run.timing = False
    pass_s = sum(r.latency for r in run.timed())
    extra["gc_s"] = sparkstats.jvm_gc_s(spark) - gc0
    phases["timed"] = time.perf_counter() - t_phase
    tracer.unwrap_all()
    if isinstance(wl, SuiteWorkload):
        t_phase = time.perf_counter()
        wl.check_pass()
        phases["check_pass"] = time.perf_counter() - t_phase
    memory = process_memory()
    extra["peak_rss_mb"] = sum(p.get("VmHWM", 0.0) for p in memory)

    failed = sum(1 for r in run.records if not r.ok)
    attempted = len(run.records)
    if trace:
        metrics = per_layer(run, wl, pass_s, extra)
    else:
        metrics = end_to_end(run, pass_s, setup_s)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": cfg.host_record(spark, args.sf, args.files),
        "pass_s": pass_s,
        "memory": memory,
        "setup_reps_s": reps,
        "setup_parts": parts,
        "ops": [r.__dict__ for r in run.records],
        "errors": run.errors,
        "result": result,
    }
    os.makedirs(os.path.dirname(args.results), exist_ok=True)
    with open(args.results, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1)
    if trace:
        tracer.dump(args.results[: -len(".json")] + ".spans.jsonl")
    for e in run.errors:
        print(f"# error {e}", file=sys.stderr)
    t_stop = time.perf_counter()
    spark.stop()
    phases["stop"] = time.perf_counter() - t_stop
    print("# phases " + json.dumps({k: round(v, 2) for k, v in phases.items()}), file=sys.stderr)
    print("# host " + json.dumps(detail["host"], sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    except CodeTreeError as exc:
        print(f"code-tree check failed: {exc}", file=sys.stderr)
        raise SystemExit(3) from None
