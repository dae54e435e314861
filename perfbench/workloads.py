"""The benchmark's two workloads and the metrics they report.

Every workload runs in a closed loop: one client, one operation at a
time.  An operation is one registered query (build + noop action), one
dump landed by the backfill, or one lake query.  A run is

1. ``prepare``  make the seeded inputs (outside every timed window);
2. setup        ``get_spark`` + a small warmup on the run's fresh JVM:
                ``setup_s``;
3. ``check``    one untimed pass that warms every code path and checks
                outputs (DuckDB oracles / generator invariants);
4. timed passes until ``--seconds`` have been measured (at least
   :data:`MIN_PASSES`).

A traced run (``--trace 1``) replaces step 4 with one untraced pass, one
traced pass and the per-layer probes, and reports per-layer metrics.
"""

from __future__ import annotations

import io
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from discogs_etl_spark import lake, pipeline
from discogs_etl_spark.registry import all_specs
from discogs_etl_spark.session import get_spark
from discogs_etl_spark.sources import xml_ingest
from discogs_etl_spark.tables import load as load_table

from perfbench import dumps
from perfbench.spans import SparkWork, Tracer


LLM_DATAPREP = (
    "corpus_curate_pipeline",
    "dedup_cc_starcontraction",
    "dedup_connected_components",
    "dedup_exact_hash",
    "dedup_minhash_lsh",
    "feature_hashing_vectorize",
    "kmeans_embeddings_fixed",
    "lm_bigram_surprisal",
    "similarity_topk_bruteforce",
    "text_chunk_sliding",
    "text_search_bm25_topk",
    "text_search_inverted_topk",
    "text_stats_by_lang",
    "graph_pagerank_coorder",
    "graph_triangle_count",
)

# Inputs.  llm_dataprep reads the engine's sf0.01 fixture tables, copied
# unchanged into perfbench/fixtures (the run seed sets the query order);
# the dumps are generated from the run seed.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
RELEASES_PER_DUMP = 6000
WARMUP_RELEASES = 300  # the check pass lands these; every setup parses one
PROBE_RELEASES = 3000  # one release dump, parsed on one core
LAKE_QUERY_ROUNDS = 3  # Plane-B query rounds after each backfill
MIN_PASSES = 2  # timed passes per run, at the least; wall_s is their median

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

_LAYER_FIXED = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "xml_ingest.inflate_mb_per_s": "MB/s",
    "xml_ingest.repair_mb_per_s": "MB/s",
    "xml_ingest.kernel_records_per_s": "records/s",
    "xml_ingest.ingest_s": "s",
    "xml_ingest.parallel_efficiency": "ratio",
    "lake.write_s": "s",
    "lake.bytes_written": "bytes",
    "lake.files_written": "count",
    "lake.read_s": "s",
    "lake.files_read_ratio": "ratio",
    "pipeline.backfill_s": "s",
    "pipeline.slowest_dump_s": "s",
    "pipeline.overlap": "ratio",
    "backfill_records_per_s": "records/s",
    "lake_query_s": "s",
    "lake_bytes_per_xml_byte": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.core_idle_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
    "jvm_peak_rss_mb": "MB",
    "query_p50_s": "s",
}
PER_LAYER = dict(_LAYER_FIXED)
for _q in LLM_DATAPREP:
    PER_LAYER[f"query.{_q}.build_s"] = "s"
    PER_LAYER[f"query.{_q}.exec_s"] = "s"
    PER_LAYER[f"query.{_q}.jobs"] = "count"

# Layers each workload does not exercise: they read 0 in its traced
# output.  Every other layer must be measured, or the run fails.
_ETL_ONLY = (
    "xml_ingest.ingest_s", "xml_ingest.parallel_efficiency",
    "lake.write_s", "lake.bytes_written", "lake.files_written",
    "lake.read_s", "lake.files_read_ratio",
    "pipeline.backfill_s", "pipeline.slowest_dump_s", "pipeline.overlap",
    "backfill_records_per_s", "lake_query_s", "lake_bytes_per_xml_byte",
)
UNUSED_LAYERS = {
    "discogs_backfill": tuple(k for k in PER_LAYER if k.startswith("query.")),
    "llm_dataprep": _ETL_ONLY,
}


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    is_query: bool  # a query (not a dump landed): counts toward query_p50_s


@dataclass
class Pass:
    wall: float
    ops: list[Op]
    layers: dict = field(default_factory=dict)  # per-layer numbers it measured
    span: int = -1  # tracer index of the pass span


@dataclass
class Ctx:
    work: str  # scratch space inside the checkout
    seed: int
    seconds: float
    cpus: int
    tracer: Tracer


def _as_json(canonical) -> list:
    """``canon_rows`` output in its JSON form, so that a stored oracle
    result and a fresh one compare equal."""
    import json

    return json.loads(json.dumps(canonical))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span_s(tr: Tracer, name: str) -> float:
    """Seconds of the (single) span called ``name``."""
    return next(s.seconds for s in tr.spans if s.name == name)


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = None
        self.check_ops: list[Op] = []

    # hooks
    def prepare(self) -> None: ...
    def warmup(self) -> None: ...
    def check(self) -> None: ...
    def run_pass(self) -> Pass: ...
    def probe_layers(self, kernel_rps: float) -> dict:
        return {}

    def start_session(self) -> None:
        tr = self.ctx.tracer
        with tr.span("session.setup"):
            with tr.span("session.start"):
                self.spark = get_spark(app_name=f"perfbench-{self.name}")
                self.spark.sparkContext.setLogLevel("ERROR")
            tr.attach(self.spark)
            with tr.span("session.warmup"):
                self.warmup()

    def timed_pass(self, label: str) -> Pass:
        self.spark.catalog.clearCache()
        with self.ctx.tracer.span(label) as sp:
            p = self.run_pass()
        p.span = self.ctx.tracer.spans.index(sp)
        return p


# ---------------------------------------------------------------------------
# LLM data-prep queries
# ---------------------------------------------------------------------------


class LlmDataprep(Workload):
    name = "llm_dataprep"

    def prepare(self) -> None:
        self.sf_dir = FIXTURES
        self.order = random.Random(self.ctx.seed).sample(LLM_DATAPREP, len(LLM_DATAPREP))
        specs = all_specs()
        self.specs = {n: specs[n] for n in LLM_DATAPREP}
        self.wrong: set[str] = set()

    def warmup(self) -> None:
        # one scan and one shuffle; the check pass warms the rest
        _noop(load_table(self.spark, self.sf_dir, "nation").groupBy("n_regionkey").count())

    def check(self) -> None:
        """Run every query once, collect it and compare with its DuckDB
        oracle, canonicalized as the repository's oracle test does."""
        import importlib

        canon_rows = importlib.import_module("tests.test_oracle").canon_rows
        for name in self.order:
            spec = self.specs[name]
            t0 = time.perf_counter()
            ok = False
            try:
                with self.ctx.tracer.span(f"check.{name}"):
                    sdf = spec.fn(self.spark, self.sf_dir)
                    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
                ok = _as_json(canon_rows(scols, srows)) == self._expected(name, canon_rows)
            except Exception as e:  # a failing query is a failed op, not a crash
                _log(f"{name}: {type(e).__name__}: {e}")
            if not ok:
                _log(f"{name}: result differs from its oracle")
                self.wrong.add(name)
            self.check_ops.append(Op(name, time.perf_counter() - t0, ok, True))

    def _expected(self, name: str, canon_rows) -> list:
        """Canonical result of ``name``'s DuckDB oracle on the fixtures.

        Some oracles take seconds (recursive CTEs), so each result is
        stored under ``work/oracle`` and reused by later runs.  The key
        covers everything the result depends on: the oracle SQL, the
        fixture files, the module of ``canon_rows`` and the DuckDB version."""
        import hashlib
        import inspect
        import json

        import duckdb

        with open(os.path.join(self.sf_dir, "SHA256SUMS"), "rb") as f:
            fixtures = f.read()
        key = hashlib.sha256(b"\0".join((
            self.specs[name].oracle.encode(), fixtures,
            inspect.getsource(inspect.getmodule(canon_rows)).encode(),
            duckdb.__version__.encode(),
        ))).hexdigest()[:16]
        path = os.path.join(self.ctx.work, "oracle", f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        with duckdb.connect() as con:
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, f)}')"
                    )
            res = con.execute(self.specs[name].oracle)
            expected = _as_json(canon_rows([d[0] for d in res.description], res.fetchall()))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(path + ".tmp", path)
        return expected

    def run_pass(self) -> Pass:
        tr = self.ctx.tracer
        ops, layers = [], {}
        t_pass = time.perf_counter()
        for name in self.order:
            fn = self.specs[name].fn
            ok = name not in self.wrong
            t0 = time.perf_counter()
            try:
                with tr.span(f"query.{name}"):
                    with tr.span(f"query.{name}.build", "group") as b:
                        df = fn(self.spark, self.sf_dir)
                    with tr.span(f"query.{name}.exec", "group") as x:
                        _noop(df)
            except Exception as e:
                _log(f"{name}: {type(e).__name__}: {e}")
                ok = False
            ops.append(Op(name, time.perf_counter() - t0, ok, True))
            if ok:
                layers[f"query.{name}.build_s"] = b.seconds
                layers[f"query.{name}.exec_s"] = x.seconds
                if b.work and x.work:
                    layers[f"query.{name}.jobs"] = b.work.jobs + x.work.jobs
        return Pass(time.perf_counter() - t_pass, ops, layers)


# ---------------------------------------------------------------------------
# Discogs backfill
# ---------------------------------------------------------------------------


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]


def _scan_file_count(df) -> int:
    """Files the executed plan's Parquet scans read (``numFiles``)."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if kind == "FileSourceScanExec":
            m = p.metrics().get("numFiles")
            if m.isDefined():
                total += m.get().value()
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


class DiscogsBackfill(Workload):
    name = "discogs_backfill"
    PRUNED_MONTH = "02"

    def prepare(self) -> None:
        base = os.path.join(self.ctx.work, "dumps")
        self.dumps = _cached_dumps(base, self.ctx.seed, RELEASES_PER_DUMP)
        self.warm = _cached_dumps(base, self.ctx.seed, WARMUP_RELEASES)
        self.lakes = os.path.join(self.ctx.work, "lakes")
        shutil.rmtree(self.lakes, ignore_errors=True)
        self._n_lake = 0

    def _fresh_lake(self) -> str:
        self._n_lake += 1
        path = os.path.join(self.lakes, f"lake{self._n_lake}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warmup(self) -> None:
        # ships the package and starts the Python workers
        _noop(xml_ingest.ingest_xml(self.spark, self.warm.paths[:1], "release"))

    def check(self) -> None:
        # the small backfill: every entity's parse and write path, checked
        with self.ctx.tracer.span("check.pass"):
            self.check_ops.extend(self._backfill(self.warm).ops)

    def run_pass(self) -> Pass:
        return self._backfill(self.dumps)

    def _lake_queries(self, root: str, inv: dumps.Invariants) -> tuple[list[Op], dict]:
        """The Plane-B queries over the landed lake, :data:`LAKE_QUERY_ROUNDS`
        times each, alternating."""
        tr, spark, m = self.ctx.tracer, self.spark, self.PRUNED_MONTH
        ops, reads, rounds = [], [], []
        for _ in range(LAKE_QUERY_ROUNDS):
            t0 = time.perf_counter()
            with tr.span("lake.query.jazz_multi_genre"):
                with tr.span("lake.read_lake") as r1:
                    df = lake.read_lake(spark, root, "release")
                with tr.span("lake.query.exec", "group"):
                    n = df.where("array_contains(genres, 'Jazz') AND size(genres) > 1").count()
            t1 = time.perf_counter()
            ops.append(Op("jazz_multi_genre", t1 - t0, n == inv.jazz_multi_genre, True))
            with tr.span("lake.query.month_pruned"):
                with tr.span("lake.read_lake") as r2:
                    df = lake.read_lake(spark, root, "release")
                with tr.span("lake.query.exec", "group"):
                    month = df.where(
                        (F.col("year") == 2024) & (F.col("month") == m)
                    ).agg(F.count("*").alias("n"), F.sum("id").alias("ids"))
                    row = month.collect()[0]
            t2 = time.perf_counter()
            ok = (
                row["n"] == inv.release_rows_by_month[m]
                and (row["ids"] or 0) == inv.release_id_sum_by_month[m]
            )
            ops.append(Op("month_pruned", t2 - t1, ok, True))
            reads.append(r1.seconds + r2.seconds)
            rounds.append(t2 - t0)
        got = {"lake.read_s": statistics.median(reads), "lake_query_s": statistics.median(rounds)}
        release_files = len(_parquet_files(lake.lake_path(root, "release")))
        if release_files:
            got["lake.files_read_ratio"] = _scan_file_count(month) / release_files
        return ops, got

    def _entities_ok(self, root: str, inv: dumps.Invariants) -> dict[str, bool]:
        """Read the lake back and compare with the generator's invariants."""
        ok = {}
        for et in inv.rows:
            df = lake.read_lake(self.spark, root, et)
            cols = [F.count("*").alias("n"), F.sum("id").alias("ids")]
            if et == "release":
                cols.append(F.sum(F.size("genres")).alias("genres"))
            row = df.agg(*cols).collect()[0]
            ok[et] = row["n"] == inv.rows[et] and (row["ids"] or 0) == inv.id_sum[et]
            if et == "release":
                ok[et] = ok[et] and row["genres"] == inv.genre_count
        return ok

    def _backfill(self, ds: dumps.DumpSet) -> Pass:
        """Land ``ds`` into an empty lake, then query it."""
        tr, inv = self.ctx.tracer, ds.invariants
        root = self._fresh_lake()
        paths = ds.paths
        t_pass = time.perf_counter()
        landed = False
        try:
            with tr.span("pipeline.backfill", "window") as bf:
                pipeline.backfill(self.spark, paths, root)
            landed = True
        except Exception as e:
            _log(f"backfill: {type(e).__name__}: {e}")
        ops, got = [], {}
        try:
            if landed:
                ops, got = self._lake_queries(root, inv)
        except Exception as e:
            _log(f"lake queries: {type(e).__name__}: {e}")
            ops = [Op("lake_queries", 0.0, False, True)]
        wall = time.perf_counter() - t_pass
        # untimed: the lake must hold exactly what the generator wrote
        ok = {}
        try:
            if landed:
                ok = self._entities_ok(root, inv)
        except Exception as e:
            _log(f"lake read-back: {type(e).__name__}: {e}")
        for path in paths:
            et = xml_ingest.detect_data_type(os.path.basename(path))
            ops.insert(0, Op(os.path.basename(path), bf.seconds, ok.get(et, False), False))
        if landed:
            files = _parquet_files(root)
            n_bytes = sum(os.path.getsize(f) for f in files)
            got.update({
                "pipeline.backfill_s": bf.seconds,
                "backfill_records_per_s": sum(inv.rows.values()) / bf.seconds,
                "lake.bytes_written": n_bytes,
                "lake.files_written": len(files),
                "lake_bytes_per_xml_byte": n_bytes / inv.xml_bytes,
            })
        shutil.rmtree(root, ignore_errors=True)
        return Pass(wall, ops, got)

    def probe_layers(self, kernel_rps: float) -> dict:
        """Layer probes that need Spark: the ingest kernel under Spark
        (against ``kernel_rps``, the one-core kernel rate), a lake write of
        a materialized frame, and each dump landed alone."""
        tr, spark = self.ctx.tracer, self.spark
        inv = self.dumps.invariants
        releases = [p for p in self.dumps.paths if "_releases." in p]
        out = {}
        with tr.span("xml_ingest.ingest_xml", "group") as sp:
            _noop(xml_ingest.ingest_xml(spark, releases, "release"))
        out["xml_ingest.ingest_s"] = sp.seconds
        spark_rps = inv.rows["release"] / sp.seconds
        out["xml_ingest.parallel_efficiency"] = spark_rps / (
            kernel_rps * min(len(releases), self.ctx.cpus)
        )
        df = xml_ingest.ingest_xml(spark, releases[:1], "release").cache()
        df.count()
        root = self._fresh_lake()
        with tr.span("lake.write_lake", "group") as sp:
            lake.write_lake(df, root, "release", 2024, "01")
        out["lake.write_s"] = sp.seconds
        df.unpersist()
        alone = []
        for path in self.dumps.paths:
            with tr.span("lake.ingest_dump_to_lake", "group") as sp:
                lake.ingest_dump_to_lake(spark, path, root)
            alone.append(sp.seconds)
        shutil.rmtree(root, ignore_errors=True)
        out["pipeline.slowest_dump_s"] = max(alone)
        out["_standalone_sum_s"] = sum(alone)
        return out


def _cached_dumps(base: str, seed: int, n: int, plan=dumps.DUMP_PLAN) -> dumps.DumpSet:
    """Generate the dumps of ``plan`` for ``(seed, n)`` once per checkout
    and version of the generator (its source hash is part of the key)."""
    import hashlib
    import json

    with open(dumps.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(base, f"seed{seed}_n{n}_d{len(plan)}_{version}")
    meta = os.path.join(out, "invariants.json")
    if os.path.exists(meta):
        with open(meta) as f:
            d = json.load(f)
        paths = [os.path.join(out, name) for name in d["files"]]
        return dumps.DumpSet(paths, dumps.Invariants(**d["invariants"]))
    shutil.rmtree(out, ignore_errors=True)
    ds = dumps.generate(out, seed, n, plan)
    files = [os.path.relpath(p, out) for p in ds.paths]
    with open(meta + ".tmp", "w") as f:
        json.dump({"files": files, "invariants": ds.invariants.__dict__}, f)
    os.replace(meta + ".tmp", meta)
    return ds


def _kernel_probe(path: str, reps: int = 3) -> tuple[float, float, float]:
    """(inflate MB/s, repair MB/s, kernel records/s) of one dump on one
    core in this process, each the median of ``reps`` runs."""
    with open(path, "rb") as f:
        gz = f.read()
    inflate, repair, kernel = [], [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        xml = xml_ingest.lenient_gzip_decompress(gz)
        inflate.append(len(xml) / (1 << 20) / (time.perf_counter() - t0))
        text = xml.decode("utf-8")
        t0 = time.perf_counter()
        xml_ingest.repair_document(text, "release")
        repair.append(len(xml) / (1 << 20) / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        n = sum(1 for _ in xml_ingest.iter_records_stream(io.BytesIO(gz), "release"))
        kernel.append(n / (time.perf_counter() - t0))
    return statistics.median(inflate), statistics.median(repair), statistics.median(kernel)


WORKLOADS = {w.name: w for w in (DiscogsBackfill, LlmDataprep)}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def _log(msg: str) -> None:
    import sys

    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_jvm() -> None:
    """Shut the Py4J gateway down and wait until the JVM, and with it the
    Python workers it forked, has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _stamp(wl: Workload) -> dict:
    spark = wl.spark
    jvm = spark.sparkContext._gateway.jvm
    import platform

    return {
        "workload": wl.name,
        "seed": wl.ctx.seed,
        "cpus": wl.ctx.cpus,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "driver_heap_max_mb": jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 20),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def run(name: str, ctx: Ctx, traced: bool) -> tuple[dict, dict]:
    """One benchmark run.  Returns (result, stamp): ``result`` holds
    ``correct``, ``attempted``, ``failed`` and ``metrics``."""
    load_before = os.getloadavg()
    phases = {}  # seconds of each phase of the run, for the stamp
    t = time.perf_counter()
    wl = WORKLOADS[name](ctx)
    tr = ctx.tracer
    wl.prepare()
    phases["prepare"], t = time.perf_counter() - t, time.perf_counter()
    wl.start_session()
    phases["setup"], t = time.perf_counter() - t, time.perf_counter()
    tr.enabled = False
    wl.check()
    phases["check"], t = time.perf_counter() - t, time.perf_counter()
    passes: list[Pass] = []
    layers: dict = {}
    if traced:
        plain = wl.timed_pass("pass.untraced")
        tr.enabled = True
        traced_pass = wl.timed_pass("pass.traced")
        tr.enabled = False
        passes = [plain, traced_pass]
        layers = _layer_metrics(wl, plain, traced_pass)
    else:
        measured = 0.0
        while len(passes) < MIN_PASSES or measured < ctx.seconds:
            passes.append(wl.timed_pass("pass"))
            measured += passes[-1].wall
    phases["passes"] = time.perf_counter() - t
    ops = wl.check_ops + [o for p in passes for o in p.ops]
    stamp = _stamp(wl)
    stamp["passes"] = len(passes)
    stamp["phase_s"] = phases
    if not traced:
        layers = {
            "setup_s": _span_s(tr, "session.setup"),
            "wall_s": statistics.median([p.wall for p in passes]),
        }
    wl.spark.stop()
    _stop_jvm()
    stamp["loadavg_before"] = list(load_before)
    stamp["loadavg_after"] = list(os.getloadavg())
    return result_line(name, ops, layers, traced), stamp


def result_line(workload: str, ops: list[Op], values: dict, traced: bool) -> dict:
    """The benchmark's last stdout line.  Every metric of the run's kind
    is printed.  A layer in :data:`UNUSED_LAYERS` of the workload reads 0;
    any other metric the run did not measure reads null and fails the run."""
    names = PER_LAYER if traced else END_TO_END
    unused = UNUSED_LAYERS[workload] if traced else ()
    missing = [k for k in names if k not in values and k not in unused]
    if missing:
        _log(f"metrics not measured: {', '.join(missing)}")
    failed = sum(not o.ok for o in ops)
    metrics = {}
    for k, u in names.items():
        v = values.get(k, None if k in missing else 0.0)
        metrics[k] = {"value": v, "unit": u}
    return {
        "correct": failed == 0 and not missing,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def _layer_metrics(wl: Workload, plain: Pass, traced: Pass) -> dict:
    """Counts and Spark task metrics from the traced pass; timings from the
    untraced pass, so that they hold none of the tracer's own work."""
    tr, ctx = wl.ctx.tracer, wl.ctx
    out = {k: v for k, v in traced.layers.items() if k.endswith(".jobs")}
    out.update(plain.layers)
    out["session.start_s"] = _span_s(tr, "session.start")
    out["session.warmup_s"] = _span_s(tr, "session.warmup")
    work: SparkWork = tr.total_work(under=traced.span)
    out.update({
        "spark.jobs": work.jobs,
        "spark.stages": work.stages,
        "spark.tasks": work.tasks,
        "spark.tasks_failed": work.tasks_failed,
        "spark.core_idle_s": plain.wall * ctx.cpus - work.task_run_s,
        "spark.task_run_s": work.task_run_s,
        "spark.task_cpu_s": work.task_cpu_s,
        "spark.gc_s": work.gc_s,
        "spark.shuffle_write_mb": work.shuffle_write_mb,
        "spark.shuffle_read_mb": work.shuffle_read_mb,
        "spark.spill_mb": work.spill_mb,
        "trace.overhead_s": traced.wall - plain.wall,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(wl.spark),
        "query_p50_s": statistics.median([o.seconds for o in plain.ops if o.is_query]),
    })
    # the same single-dump kernel probe on every workload: its numbers
    # compare across workloads and should not move on llm_dataprep
    probe = _cached_dumps(
        os.path.join(ctx.work, "dumps"), ctx.seed, PROBE_RELEASES, dumps.DUMP_PLAN[:1]
    )
    with tr.span("xml_ingest.kernel_probe"):
        inflate, repair, kernel = _kernel_probe(probe.paths[0])
    out["xml_ingest.inflate_mb_per_s"] = inflate
    out["xml_ingest.repair_mb_per_s"] = repair
    out["xml_ingest.kernel_records_per_s"] = kernel
    tr.enabled = True
    extra = wl.probe_layers(kernel)
    tr.enabled = False
    standalone = extra.pop("_standalone_sum_s", None)
    if standalone is not None and out.get("pipeline.backfill_s"):
        out["pipeline.overlap"] = standalone / out["pipeline.backfill_s"]
    out.update(extra)
    return out
