"""Session, set-up, timed loop, hygiene and result assembly shared by every
workload.

One run: start the session (JVM launch and the package shipped to the
executors), build the inputs ``SETUP_REPS`` times (``setup_s`` is the
session start plus the median build), derive the expected outputs, run one
untimed warm-up operation, then repeat the workload's operation until
``seconds`` have passed. Every operation's output is checked; after each
one every persisted RDD is released and the live count must be zero. A traced run
(``trace=True``) measures the same untraced loop for its baseline and then
a traced loop whose spans give the per-layer metrics.
"""

from __future__ import annotations

import math
import os
import platform
import statistics
import subprocess
import threading
import time
import traceback

SETUP_REPS = 3

#: end-to-end metrics printed with --trace 0 (name → unit)
END_TO_END = {
    "setup_s": "s",
    "triples_per_s": "triples/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

#: per-layer metrics printed with --trace 1 (name → unit); a workload that
#: does not run a layer reports 0 for it
PER_LAYER = {
    "html_extract.parse_s": "s",
    "web.map_s": "s",
    "web.link_s": "s",
    "web.link_hit_ratio": "ratio",
    "minhash.signatures_s": "s",
    "minhash.reps": "count",
    "minhash.candidate_pairs": "count",
    "minhash.verified_edges": "count",
    "minhash.edge_yield": "ratio",
    "components.mapping_s": "s",
    "components.merged_subjects": "count",
    "graph_store.materialize_s": "s",
    "graph_store.files_written": "count",
    "graph_store.bytes_per_triple": "B",
    "graph_store.dedup_ratio": "ratio",
    "graph_store.files_per_lookup": "count",
    "graph_store.files_per_scan": "count",
    "graph_store.live_batches_ms": "ms",
    "bgp.rows_out": "rows",
    "csvw.load_s": "s",
    "csv_source.read_rows_s": "s",
    "triples.rows_to_triples_s": "s",
    "ntriples.write_s": "s",
    "ntriples.bytes_written": "B",
    "scaling_eff": "ratio",
    "lookup_p50_ms": "ms",
    "scan_p50_ms": "ms",
    "bgp_p50_ms": "ms",
    "query_tail_ms": "ms",
    "query_tail_pct": "%",
    "query_samples": "count",
    "trace.overhead": "ratio",
}

#: Spark job groups whose task metrics are folded from the event log
EVENT_LAYERS = ("html_extract", "web.map", "web.link", "web.canonicalize",
                "minhash", "components", "graph_store.materialize",
                "graph_store.read_subject", "graph_store.read_predicate",
                "graph_store.bgp_match_store", "csv_source", "triples",
                "ntriples")
_EVENT_UNITS = {"shuffle_write_bytes": "B", "spill_bytes": "B",
                "tasks": "count", "task_skew": "ratio",
                "jvm_cpu_share": "ratio"}
PER_LAYER.update({f"{layer}.{m}": u for layer in EVENT_LAYERS
                  for m, u in _EVENT_UNITS.items()})


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work: str, n_cores: int, event_log_dir: str | None) -> dict:
    """Session settings; every path the JVM or the Python workers write to
    is under ``work``."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.master": f"local[{n_cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * n_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed heap and young generation: RSS then follows the live data,
        # not how far the collector happened to resize the heap
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Xmn512m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_session(conf: dict):
    """Start the session and ship the package to the executors, as every
    pipeline entry point does on its first call."""
    from pyspark.sql import SparkSession
    from rdf_tabular_spark.session import ensure_package_on_executors
    for d in (conf["spark.local.dir"], conf["spark.sql.warehouse.dir"]):
        os.makedirs(d, exist_ok=True)
    if "spark.eventLog.dir" in conf:
        os.makedirs(conf["spark.eventLog.dir"][len("file://"):], exist_ok=True)
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_executors(spark)
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def release_all(spark) -> tuple[int, int]:
    """Unpersist every cached DataFrame and every persisted RDD (including
    ``localCheckpoint`` blocks, which ``clearCache`` does not touch).
    → (persisted RDDs found, persisted RDDs still live afterwards)."""
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    it = sc.getPersistentRDDs().iterator()
    found = 0
    while it.hasNext():
        it.next()._2().unpersist(True)
        found += 1
    return found, sc.getPersistentRDDs().size()


def _memory_kb(root_pid: int) -> tuple[int, int]:
    """→ (RSS of ``root_pid``, summed PSS of every process below it), KiB.
    The Python workers are forks of one daemon and share most pages with
    it, so their RSS would count those pages once per worker; PSS divides
    each shared page among the processes mapping it."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat[stat.rfind(b")") + 2:].split()[1])
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return (_proc_field_kb(f"/proc/{root_pid}/status", "VmRSS:"),
            sum(_proc_field_kb(f"/proc/{p}/smaps_rollup", "Pss:") for p in tree))


def _proc_field_kb(path: str, field: str) -> int:
    try:
        with open(path, encoding="ascii") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Resident memory of the JVM (RSS) plus every process below it (the
    Python workers, PSS), sampled from /proc while running. ``peak_mb`` is
    the 95th percentile of the samples: a burst of freshly forked Python
    workers that lasts under 5 % of the loop (seen in about one run in
    ten) does not set it; ``max_mb`` keeps the absolute maximum."""

    def __init__(self, pid: int | None, interval: float = 0.1):
        self.pid, self.interval = pid, interval
        self.samples: list[tuple[int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.samples.append(_memory_kb(self.pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        if self.pid is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)

    def _mb(self, values: list[int], q: float) -> float:
        s = sorted(values) or [0]
        return s[min(len(s) - 1, int(q * len(s)))] / 1024.0

    @property
    def peak_mb(self) -> float:
        return self._mb([j + w for j, w in self.samples], 0.95)

    def report(self) -> dict:
        return {"max_rss_mb": self._mb([j + w for j, w in self.samples], 1.0),
                "peak_rss_jvm_mb": self._mb([j for j, _ in self.samples], 0.95),
                "peak_rss_workers_mb": self._mb([w for _, w in self.samples], 0.95),
                "rss_samples": len(self.samples)}


class OpResult:
    """One checked operation: output triples, timed seconds, and whether
    the output check and the hygiene check passed."""

    def __init__(self, triples: int, seconds: float, ok: bool, note: str = ""):
        self.triples, self.seconds, self.ok, self.note = triples, seconds, ok, note


class Ctx:
    """Per-run state handed to workloads: session, work dir, seed, input
    scale and the task-slot count."""

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0,
                 corrupt: bool = False):
        self.spark, self.work, self.seed, self.scale = spark, work, seed, scale
        self.cores = int(spark.sparkContext.master.strip("local[]") or 1)
        #: self-test hook: drop one output triple before the check
        self.corrupt = corrupt
        self.leaked_rdds = self.live_rdds = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _loop(ctx: Ctx, op, seconds: float, tracer=None) -> list[OpResult]:
    """Closed loop: start the next operation when the previous one has
    finished and been checked; stop once ``seconds`` of loop time passed."""
    out: list[OpResult] = []
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        try:
            r = op(ctx, len(out), tracer)
        except Exception as e:  # a crashing operation is a failed one
            traceback.print_exc()
            r = OpResult(0, time.perf_counter() - t0, False,
                         note=f"{type(e).__name__}: {e}"[:500])
        found, live = release_all(ctx.spark)
        ctx.leaked_rdds += found
        ctx.live_rdds += live
        if live:
            r.ok = False
            r.note += f" {live} persisted RDDs still live after release"
        out.append(r)
        if time.perf_counter() >= t_end:
            return out


def percentile_with_support(values: list[float], min_beyond: int = 10):
    """Highest of p75/p90/p95/p99 (nearest rank) with at least
    ``min_beyond`` samples above it → (percent, value); (50, median) when
    the sample is too small for any of them."""
    s = sorted(values)
    best = (50, statistics.median(s))
    for p in (75, 90, 95, 99):
        k = math.ceil(len(s) * p / 100) - 1
        if len(s) - k - 1 >= min_beyond:
            best = (p, s[k])
    return best


def environment(spark, conf: dict) -> dict:
    import pyspark
    return {"nproc": cores(), "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark_conf": {k: v for k, v in conf.items()
                           if k not in ("spark.local.dir", "spark.sql.warehouse.dir",
                                        "spark.eventLog.dir",
                                        "spark.driver.extraJavaOptions")}}


class _Phases:
    """Wall time per phase of a run, for the report."""

    def __init__(self):
        self.t = time.perf_counter()
        self.times: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.times[name] = round(self.times.get(name, 0.0) + now - self.t, 3)
        self.t = now


def run(workload, seed: int, seconds: float, trace: bool, work: str,
        scale: float = 1.0, corrupt: bool = False) -> dict:
    """Run one workload (an instance from workloads.WORKLOADS); → {"result":
    the final JSON object, "report": everything else worth printing}."""
    os.makedirs(work, exist_ok=True)
    event_dir = os.path.join(work, "eventlog") if trace else None
    conf = spark_conf(work, cores(), event_dir)
    report: dict = {"workload": workload.name, "seed": seed,
                    "seconds": seconds, "trace": int(trace),
                    "loop": workload.loop}
    phases = _Phases()
    setup_times = []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(conf)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, seed, scale, corrupt=corrupt)
        for rep in range(1 if trace else SETUP_REPS):
            t0 = time.perf_counter()
            workload.setup(ctx, rep)
            setup_times.append(time.perf_counter() - t0)
        phases.mark("setup")
        report["env"] = environment(spark, conf)
        workload.prepare(ctx)
        phases.mark("prepare")
        results = _loop(ctx, workload.warmup, 0)  # untimed, checked
        phases.mark("warmup")
        with RssSampler(jvm_pid(spark)) as rss:
            timed = _loop(ctx, workload.op, seconds)
        results += timed
        phases.mark("timed")
        if trace:
            from .trace import Tracer
            tracer = Tracer(f"{workload.name}-{seed}", spark)
            traced = _loop(ctx, workload.op, seconds, tracer)
            results += traced
            phases.mark("traced")
            metrics = workload.layer_metrics(ctx, tracer, timed)
            metrics["trace.overhead"] = (_throughput(traced)
                                         / max(_throughput(timed), 1e-9))
            report["op_self_time_shares"] = tracer.shares(
                f"{workload.name}.op")
            phases.mark("layer_metrics")
    finally:
        if spark is not None:
            stop_session(spark)
    phases.mark("stop")
    if trace:
        from .trace import fold_event_log
        folded = fold_event_log(event_dir)
        for group in EVENT_LAYERS:
            for m in _EVENT_UNITS:
                metrics[f"{group}.{m}"] = folded.get(group, {}).get(m, 0)
        unknown = set(metrics) - set(PER_LAYER)
        if unknown:
            raise ValueError(f"undeclared per-layer metrics: {sorted(unknown)}")
        metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
        spans_path = os.path.join(os.path.dirname(work), "spans",
                                  f"{workload.name}-{seed}.jsonl")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path, folded)
        report["spans_file"] = os.path.relpath(spans_path)
        report["spans"] = len(tracer.spans)
    else:
        metrics = {"setup_s": session_s + statistics.median(setup_times),
                   "triples_per_s": _throughput(timed),
                   "op_p50_ms": statistics.median(r.seconds * 1000
                                                  for r in timed),
                   "peak_rss_mb": rss.peak_mb}
        report["setup_session_s"] = session_s
        report["setup_samples_s"] = setup_times
        report.update(rss.report())
        report["op_ms"] = [r.seconds * 1000 for r in timed]
    failed = sum(not r.ok for r in results)
    report["failed_ratio"] = failed / len(results)
    report["leaked_rdds_released"] = ctx.leaked_rdds
    report["live_rdds_after_release"] = ctx.live_rdds
    report["failures"] = sorted({r.note.strip() for r in results if not r.ok})
    report["phases_s"] = phases.times
    units = PER_LAYER if trace else END_TO_END
    result = {"correct": failed == 0, "attempted": len(results),
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    return {"result": result, "report": report}


def _throughput(results: list[OpResult]) -> float:
    secs = sum(r.seconds for r in results)
    return sum(r.triples for r in results) / secs if secs > 0 else 0.0

