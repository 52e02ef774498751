"""graftbench: end-to-end and per-layer benchmark of the spark-graft engine.

Run from the root of a checkout:

    python3 graftbench/run.py --workload refresh_load --seed 1 --seconds 10 --trace 0

One run is one fresh process on local[$SPARK_GRAFT_CPUS] (default: the
usable cores) with a single closed-loop client. It generates the
workload's inputs from the seed (``gen.py``), sets up (session start and
a fixed number of warm-up ops, which build the starting state), runs ops
back to back for ``--seconds`` and at least a fixed number of ops, then
checks the outputs against DuckDB twins (``oracles.py``). Diagnostics go
to stdout as ``# name value unit (n=samples)`` lines; the last line is
one JSON object {correct, attempted, failed, metrics}.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` the run also writes Spark's event log and runs one window
in which half the ops have each public call wrapped in a span
(``spans.py``); it reports per-layer metrics plus the tracing
overhead, and writes them, with the spans, to
``.graftbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracles  # noqa: E402
from spans import Trace, Tracer, read_event_log  # noqa: E402

PACKAGE = "nashville_etl_service_backup_spark"
WORKLOADS = ("refresh_load", "corpus_curation")
# warm-up ops per run (README, design rule 2)
WARMUP_OPS = {"refresh_load": 1, "corpus_curation": 2}
# timed ops per window at the least, whatever the host speed, so a metric
# is never a median over a sample whose size the host decides
MIN_OPS = {"refresh_load": 4, "corpus_curation": 3}


def calib_ms() -> float:
    """Host-speed canary: a fixed single-thread Python loop. Diagnostic
    only, never used to drop or rescale a run."""
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.sink = os.path.join(work, "sink")
        self.diag: list[tuple[str, float, str, int]] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.ops = 0
        # outputs kept for the checks, and traced-run counters read outside
        # the op spans
        self.samples: list = []
        self.lsh_out: list = []
        self.probe: dict[str, list[float]] = {
            "new_row_ratio": [], "files_written": [], "files_scanned": [], "lsh_pairs": []}

    # -- environment -------------------------------------------------------

    def configure(self) -> None:
        """Settings the program reads from outside: cores, local dirs, the
        event log and a quiet console."""
        cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        tmp = os.path.join(self.work, "tmp")
        for d in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if self.args.trace else "false",
            "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        submit = [f"--conf={k}={v}" for k, v in conf.items()]
        submit += ["--driver-java-options", f"-Dderby.system.home={self.work} -Dlog4j2.level=ERROR"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
        # every JVM (launcher and driver): temp files in the work dir, no
        # hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.note("settings.cpus", int(cpus), "count")

    def note(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.diag.append((name, value, unit, n))

    # -- setup -------------------------------------------------------------

    def start(self) -> None:
        from nashville_etl_service_backup_spark import queries
        from nashville_etl_service_backup_spark.operators import release_persisted, serving
        from nashville_etl_service_backup_spark.plans import canonicalize, load
        from nashville_etl_service_backup_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name=f"graftbench-{self.args.workload}")
        self.session_start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext)
        self.release_persisted = release_persisted
        # the public calls the ops make; the traced window swaps in wrappers
        self.api = {
            "run_pipeline": canonicalize.run_pipeline,
            "parse_raw": canonicalize.parse_raw,
            "load_events": load.load_events,
            "query_events": serving.query_events,
            "count_with_filters": serving.count_with_filters,
            "distinct_values": serving.distinct_values,
            "llm_corpus_curation": queries.all_queries()["llm_corpus_curation"],
        }
        self.curation_oracle = queries.all_oracles()["llm_corpus_curation"]

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def refresh(self) -> int:
        """Full overwrite refresh of the base raw zone into the sink."""
        a = self.api
        with self.tracer.span("refresh"):
            batch = a["run_pipeline"](self.read(os.path.join(self.inputs, "raw_base.parquet")), now_year=2025)
            return a["load_events"](self.spark, batch, self.sink, mode="overwrite")

    def setup(self) -> None:
        """Session start and the warm-up ops; on refresh_load the first
        warm-up cycle builds the starting sink."""
        t = time.perf_counter()
        self.start()
        t0 = time.perf_counter()
        for i in range(WARMUP_OPS[self.args.workload]):
            self.op(i, record=False)
        self.setup_s = time.perf_counter() - t
        self.note("setup.session_start_s", self.session_start_s, "s")
        self.note("setup.warmup_s", time.perf_counter() - t0, "s", WARMUP_OPS[self.args.workload])

    # -- ops ---------------------------------------------------------------

    def page_view(self, shape: dict, op: int | None = None) -> tuple[float, dict]:
        """One reference page view: page select, filtered count and the two
        dropdown distincts, each collected. Returns (seconds, outputs)."""
        a, tr = self.api, self.tracer
        t = time.perf_counter()
        with tr.span("page_view", op=op):
            events = self.read(self.sink)
            page = a["query_events"](events, source=shape["source"], category=shape["category"],
                                     search=shape["search"], page=shape["page"])
            count = a["count_with_filters"](events, source=shape["source"], category=shape["category"])
            srcs = a["distinct_values"](events, "source")
            cats = a["distinct_values"](events, "category")
            with tr.span("serving.exec"):
                out = {
                    "page": (page.columns, [tuple(r) for r in page.collect()]),
                    "count": count.collect()[0][0],
                    "sources": [r[0] for r in srcs.collect()],
                    "categories": [r[0] for r in cats.collect()],
                }
        dt = time.perf_counter() - t
        if tr.enabled and op is not None:
            self.probe["files_scanned"].append(len(events.inputFiles()))
        return dt, out

    def op(self, i: int, record: bool = True) -> None:
        getattr(self, f"op_{self.args.workload}")(i, record)

    def op_refresh_load(self, i: int, record: bool) -> None:
        a, tr = self.api, self.tracer
        size = gen.SIZES["refresh_load"]
        op = i if record else None
        with tr.span("cycle", op=op):
            t = time.perf_counter()
            written = [self.refresh()]
            refresh_s = time.perf_counter() - t
            append_s, fresh, last = 0.0, [], []
            for k in range(size["batches"]):
                files0 = self._files()
                t = time.perf_counter()
                with tr.span("append"):
                    batch = a["run_pipeline"](self.read(os.path.join(self.inputs, f"raw_batch_{k}.parquet")),
                                              now_year=2025)
                    written.append(a["load_events"](self.spark, batch, self.sink, mode="append"))
                append_s += time.perf_counter() - t
                if tr.enabled and record:
                    self.probe["files_written"].append(self._files() - files0)
                    self.probe["new_row_ratio"].append(written[-1] / size["batch_rows"])
                # one page view per append; the shape rotates so that four
                # cycles view every shape once after each append
                shape = self.schedule[(i + k * len(self.schedule) // size["batches"]) % len(self.schedule)]
                dt, out = self.page_view(shape, op=op)
                fresh.append(dt)
                if k == size["batches"] - 1:
                    cols, rows = out["page"]
                    last.append((shape, dict(out, page=oracles.canon(cols, rows))))
        if tr.enabled and record:
            self.probe_canonicalize(os.path.join(self.inputs, "raw_base.parquet"), op)
        if record:
            self.lat += fresh
            self.refresh_s.append(refresh_s)
            self.append_s.append(append_s)
            self.work_units += size["base_rows"] + size["batches"] * size["batch_rows"]
            self.written.append(written)
            self.samples += last

    def op_corpus_curation(self, i: int, record: bool) -> None:
        a, tr = self.api, self.tracer
        t = time.perf_counter()
        with tr.span("curation", op=i if record else None):
            df = a["llm_corpus_curation"](self.spark, self.inputs)
            rows = [tuple(r) for r in df.collect()]
        dt = time.perf_counter() - t
        if tr.enabled and record:
            with tr.span("probe.lsh_pairs"):
                self.probe["lsh_pairs"].append(sum(p.count() for p in self.lsh_out))
        self.lsh_out.clear()
        self.release_persisted()
        if record:
            self.lat.append(dt)
            self.work_units += gen.SIZES["corpus_curation"]["docs"]
            self.samples.append((df.columns, rows))

    def probe_canonicalize(self, raw_path: str, op: int | None) -> None:
        """Traced runs only: the JSON-parse floor and the whole pipeline,
        each materialized alone through the noop sink."""
        a = self.api
        with self.tracer.span("probe.parse", op=op):
            a["parse_raw"](self.read(raw_path)).write.format("noop").mode("overwrite").save()
        with self.tracer.span("probe.pipeline", op=op):
            a["run_pipeline"](self.read(raw_path), now_year=2025).write.format("noop").mode("overwrite").save()

    def _files(self) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(self.sink))

    # -- timed window ------------------------------------------------------

    def window(self, seconds: float, min_ops: int, alternate: bool = False) -> None:
        """Ops back to back until ``seconds`` have passed and at least
        ``min_ops`` have run. With ``alternate`` half the ops run traced,
        in the order untraced, traced, traced, untraced, ..., and their
        latencies go to ``traced_lat``: both kinds share one stretch of
        host speed, and a steady warm-up trend favours neither."""
        self.lat, self.traced_lat, self.refresh_s, self.append_s, self.written = [], [], [], [], []
        self.work_units = 0
        t_end = time.perf_counter() + seconds
        i = 0
        while i < min_ops or time.perf_counter() < t_end or (alternate and i % 2):
            self.tracer.enabled = alternate and i % 4 in (1, 2)
            n = len(self.lat)
            self.op(i)
            if self.tracer.enabled:
                self.traced_lat += self.lat[n:]
                del self.lat[n:]
            i += 1
        self.tracer.enabled = False
        self.ops = i

    def busy_s(self) -> float:
        """Summed op time behind work_per_s: for refresh_load the write ops
        (refreshes and appends), otherwise the ops themselves."""
        if self.args.workload == "refresh_load":
            return sum(self.refresh_s) + sum(self.append_s)
        return sum(self.lat)

    def end_to_end(self) -> dict:
        w = self.args.workload
        unit = {"refresh_load": "raw rows written", "corpus_curation": "documents curated"}[w]
        lat_name = {"refresh_load": "fresh page view", "corpus_curation": "curation"}[w]
        self.note("op_latencies_ms " + " ".join(f"{x * 1000:.0f}" for x in self.lat), len(self.lat), "ops")
        self.note("setup_s", self.setup_s, "s")
        self.note(f"op_p50_ms ({lat_name})", _p50(self.lat) * 1000, "ms", len(self.lat))
        self.note(f"work_per_s ({unit})", self.work_units / self.busy_s(), "1/s", self.ops)
        if w == "refresh_load":
            size = gen.SIZES[w]
            self.note("refresh_p50_s", _p50(self.refresh_s), "s", len(self.refresh_s))
            self.note("refresh_rows_per_s", self.ops * size["base_rows"] / sum(self.refresh_s),
                      "1/s", self.ops)
            self.note("append_rows_per_s", self.ops * size["batches"] * size["batch_rows"] / sum(self.append_s),
                      "1/s", self.ops * size["batches"])
        return {
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "op_p50_ms": {"value": _p50(self.lat) * 1000, "unit": "ms"},
            "work_per_s": {"value": self.work_units / self.busy_s(), "unit": "1/s"},
        }

    # -- checks ------------------------------------------------------------

    def check(self) -> None:
        w = self.args.workload
        self.attempted = self.ops
        if w == "refresh_load":
            size = gen.SIZES[w]
            raws = ["raw_base.parquet"] + [f"raw_batch_{k}.parquet" for k in range(size["batches"])]
            errors, per_seq = oracles.check_sink([os.path.join(self.inputs, r) for r in raws], self.sink)
            errors += [f"cycle {i} wrote {got} rows per load, oracle {per_seq}"
                       for i, got in enumerate(self.written) if got != per_seq]
            errors += oracles.check_pages(self.sink, self.samples)
        else:
            errors = oracles.check_curation(self.inputs, self.curation_oracle, self.samples)
        self.failures = errors
        # the sink and the curation result are shared by every op: a failed
        # check fails them all
        if errors:
            self.failed = self.ops

    # -- traced window -----------------------------------------------------

    def install_tracing(self) -> None:
        """Swap every public call for a span-recording wrapper, including
        the two dedup stages inside the curation query. The wrappers record
        only while ``tracer.enabled`` is set."""
        from nashville_etl_service_backup_spark.operators import dedup
        from nashville_etl_service_backup_spark.queries import llmdata

        tr = self.tracer
        layer = {"run_pipeline": "canonicalize", "parse_raw": "canonicalize", "load_events": "load",
                 "llm_corpus_curation": "curation"}
        self.api = {k: tr.wrap(f"{layer.get(k, 'serving')}.{k}", fn) for k, fn in self.api.items()}
        lsh = llmdata.lsh_near_dup_pairs

        def lsh_traced(*args, **kwargs):
            with tr.span("dedup.lsh_near_dup_pairs"):
                out = lsh(*args, **kwargs)
            self.lsh_out.append(out)
            return out

        llmdata.lsh_near_dup_pairs = lsh_traced
        dedup.connected_components = tr.wrap("dedup.connected_components", dedup.connected_components)

    def per_layer(self, trace: Trace, untraced_ms: float, traced_ms: float) -> dict:
        by_id = {s["id"]: s for s in trace.spans}
        recorded = lambda name: [s for s in trace.named(name) if s["op"] is not None]  # noqa: E731
        under = lambda parent, name: [s for s in trace.named(name)  # noqa: E731
                                      if parent["id"] in self._ancestors(by_id, s)]
        walls = lambda spans: sum(Trace.wall(s) for s in spans)  # noqa: E731
        pipe = recorded("probe.pipeline")
        appends = [s for s in trace.named("load.load_events") if by_id[s["parent"]]["name"] == "append"
                   and s["op"] is not None]
        pages = recorded("page_view")
        curs = recorded("curation")
        ops = recorded({"refresh_load": "cycle", "corpus_curation": "curation"}[self.args.workload])
        serving_calls = ("serving.query_events", "serving.count_with_filters", "serving.distinct_values")
        m = {
            "session.start_s": (self.session_start_s, "s"),
            "canonicalize.parse_s": (_p50([Trace.wall(s) for s in recorded("probe.parse")]), "s"),
            "canonicalize.pipeline_s": (_p50([Trace.wall(s) for s in pipe]), "s"),
            "canonicalize.executor_cpu_s": (_p50([trace.metric(s, "executorCpuTime") / 1e9 for s in pipe]), "s"),
            "canonicalize.shuffle_write_bytes": (
                _p50([trace.metric(s, "shuffle.write.bytesWritten") for s in pipe]), "bytes"),
            "load.s": (_p50([Trace.wall(s) for s in appends]), "s"),
            "load.jobs": (_p50([len(trace.jobs(s)) for s in appends]), "count"),
            "load.new_row_ratio": (_p50(self.probe["new_row_ratio"]), "ratio"),
            "load.files_written": (_p50(self.probe["files_written"]), "count"),
            "serving.build_ms": (_p50([1000 * sum(walls(under(p, n)) for n in serving_calls) for p in pages]), "ms"),
            "serving.exec_ms": (_p50([1000 * walls(under(p, "serving.exec")) for p in pages]), "ms"),
            "serving.jobs_per_page": (_p50([len(trace.jobs(p)) for p in pages]), "count"),
            "serving.tasks_per_page": (_p50([trace.tasks(p) for p in pages]), "count"),
            "serving.files_scanned": (_p50(self.probe["files_scanned"]), "count"),
            "dedup.cc_s": (_p50([walls(under(c, "dedup.connected_components")) for c in curs]), "s"),
            "dedup.cc_jobs": (_p50([sum(len(trace.jobs(s)) for s in under(c, "dedup.connected_components"))
                                    for c in curs]), "count"),
            "dedup.lsh_build_ms": (_p50([1000 * walls(under(c, "dedup.lsh_near_dup_pairs")) for c in curs]), "ms"),
            "dedup.lsh_pairs": (_p50(self.probe["lsh_pairs"]), "count"),
            "curation.executor_run_s": (_p50([trace.metric(c, "executorRunTime") / 1000 for c in curs]), "s"),
            "curation.gc_s": (_p50([trace.metric(c, "jvmGCTime") / 1000 for c in curs]), "s"),
            "curation.shuffle_bytes": (_p50([trace.metric(c, "shuffle.write.bytesWritten") for c in curs]), "bytes"),
            "curation.spill_bytes": (_p50([trace.metric(c, "memoryBytesSpilled") + trace.metric(c, "diskBytesSpilled")
                                           for c in curs]), "bytes"),
            "curation.task_skew": (_p50([trace.task_skew(c) for c in curs]), "ratio"),
            "spark.jobs_per_op": (_p50([len(trace.jobs(s)) for s in ops]), "count"),
            "spark.stages_per_op": (_p50([len(trace.stages(s)) for s in ops]), "count"),
            "spark.tasks_per_op": (_p50([trace.tasks(s) for s in ops]), "count"),
            "driver.residual_s_per_op": (_p50([trace.residual_s(s) for s in ops]), "s"),
            "trace.untraced_op_ms": (untraced_ms, "ms"),
            "trace.traced_op_ms": (traced_ms, "ms"),
            "trace.overhead_pct": (100 * (traced_ms / untraced_ms - 1), "%"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    @staticmethod
    def _ancestors(by_id: dict, span: dict) -> set[int]:
        out, p = set(), span["parent"]
        while p is not None:
            out.add(p)
            p = by_id[p]["parent"]
        return out

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers)
        to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def run(args, root: str) -> dict:
    work = os.path.join(root, ".graftbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench = Bench(args, work)
    try:
        bench.note("settings.seed", args.seed, "")
        bench.note("host.calib_ms.start", calib_ms(), "ms")
        t = time.perf_counter()
        gen.generate(args.workload, args.seed, bench.inputs)
        bench.note("gen_s", time.perf_counter() - t, "s")
        with open(os.path.join(bench.inputs, "schedule.json")) as f:
            bench.schedule = json.load(f)
        bench.configure()
        bench.setup()
        if args.trace:
            bench.install_tracing()
            bench.window(args.seconds, MIN_OPS[args.workload], alternate=True)
            untraced_ms, traced_ms = _p50(bench.lat) * 1000, _p50(bench.traced_lat) * 1000
            bench.note("trace.untraced_op_ms", untraced_ms, "ms", len(bench.lat))
            bench.note("trace.traced_op_ms", traced_ms, "ms", len(bench.traced_lat))
        else:
            bench.window(args.seconds, MIN_OPS[args.workload])
            metrics = bench.end_to_end()
        bench.check()
        bench.note("host.calib_ms.end", calib_ms(), "ms")
        log_dir = os.path.join(work, "eventlog")
        bench.stop()
        if args.trace:
            trace = Trace(bench.tracer.spans, *read_event_log(log_dir))
            metrics = bench.per_layer(trace, untraced_ms, traced_ms)
            out = os.path.join(root, ".graftbench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"metrics": metrics, "spans": bench.tracer.spans}, f, indent=1)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    for name, value, unit, n in bench.diag:
        print(f"# {name} {value:.6g} {unit} (n={n})")
    for e in bench.failures:
        print(f"# check failed: {e}", file=sys.stderr)
    print(f"# checks: {'pass' if not bench.failures else 'FAIL'}; error_rate "
          f"{bench.failed / max(bench.attempted, 1):.4g} ({bench.failed}/{bench.attempted})")
    return {"correct": not bench.failures, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description="graftbench: one workload run of the spark-graft engine")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"graftbench: no {PACKAGE}/ in {root}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    print(json.dumps(run(args, root)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
