"""Benchmark for kinbaku_spark: two workloads on ``local[nproc]``.

    python3 perfbench/run.py --workload pipeline_mix --seed 7 --seconds 5 --trace 0

Run it from the root of a checkout. Each run is one fresh process with one
client (this thread) in a closed loop against Spark ``local[nproc]``. A
child process generates the input tables from ``--seed`` and the expected
answers (``expected.py``). This process then sets the engine up once, from
fresh until ready, makes one cold pass over the workload and repeats it
for ``--seconds`` (whole passes, at least ``MIN_WARM``). Every answer is
checked outside the timed region: query results against their DuckDB oracle, point-op
answers against a dict model of the graph. The last stdout line is one
JSON object; ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
turns on Spark's event log and reports the per-layer metrics folded from
it. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import platform
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from pointops import OPS, READS, SESSION_OPS, GraphModel, OpStream  # noqa: E402

SF = 0.01
# whole warm passes (query workloads) or sessions (point ops) per run
MIN_WARM = 2
# a run must end within 180 s: the warm window stops early past this point
HARD_STOP_S = 130
CHILD_TIMEOUT_S = 60
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
# heap of the local-mode JVM; sf 0.01 needs far less
DRIVER_MEM = "1g"

QUERY_WORKLOADS = {
    # plan execution, the Arrow/Python UDF boundary and the shared dedup
    # state builds; few jobs per query, never touches graph.Graph
    "pipeline_mix": (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q_window_top_orders",
        "x_dedup_minhash",
        "x_text_quality",
        "x_udf_token_count",
        "x_pii_scrub",
        "x_hll_distinct",
    ),
}
WORKLOADS = (*QUERY_WORKLOADS, "graph_point_ops")

# Times are CPU seconds of this process, the JVM and its Python workers:
# on a shared VM with CPU steal their spread over seeds was a third to a
# half of the wall-clock one. Wall-clock figures are printed beside them.
END_TO_END = {"setup_s": "s", "suite_cold_cpu_s": "s", "suite_warm_cpu_s": "s", "peak_rss_mb": "MB"}
SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "functions.python_bytes": "bytes",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.rows": "count",
    "queries.build_cold_s": "s",
    "queries.build_warm_s": "s",
    "queries.build_jobs": "count",
    **SPARK_LAYER,
    **{f"graph.{op}_p50_ms": "ms" for op in OPS},
    "graph.jobs_per_op": "count",
    "graph.read_nojob_ratio": "ratio",
    "graph.read_after_write_p50_ms": "ms",
    "trace.suite_warm_cpu_s": "s",
}

POINT_CALLS = {
    "node": lambda g, a: g.node(a[0]),
    "edge": lambda g, a: g.edge(a[0], a[1]),
    "has_edge": lambda g, a: g.has_edge(a[0], a[1]),
    "neighbors": lambda g, a: list(g.neighbors(a[0])),
    "out_degree": lambda g, a: g.out_degree(a[0]),
    "add_edge": lambda g, a: g.add_edge(a[0], a[1], a[2]),
    "remove_edge": lambda g, a: g.remove_edge(a[0], a[1]),
}


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Process environment for the engine; must run before pyspark loads.
    Every file Spark, the JVM and the Python workers write lands in
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        KB_CACHE_TABLES="1",
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir=file://{work}/warehouse",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        # Spark 4 compresses event logs with zstd by default; stdlib json
        # needs them plain
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    args = [f"--conf {c}" for c in conf]
    args.append(f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def graph_model(edges: dict[tuple[str, str], float]) -> GraphModel:
    """Dict model of the supplier→part graph with the given edge weights."""
    keys = sorted({k for e in edges for k in e})
    nodes = {k: {"key": k, "index": i, "name": k, "age": 0, "score": 0.0} for i, k in enumerate(keys)}
    return GraphModel(nodes, edges)


def run_child(cmd: list[str]) -> str:
    """Run ``cmd`` in a session of its own and return its stdout; on a
    timeout the whole session is killed."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode:
        raise RuntimeError(f"{cmd[1:3]} exited with code {proc.returncode}")
    return out


def proc_cpu_s(pid: int) -> float:
    """CPU seconds of a live process and its reaped children (Linux
    ``/proc/<pid>/stat`` utime, stime, cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # exited between listing and reading
        return 0.0
    return sum(int(v) for v in fields[11:15]) / CLOCK_TICKS


def peak_rss_kb(pid: int) -> int:
    """Peak resident set size of a live process (Linux ``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root`` (Linux /proc)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    out, frontier = [], [root]
    while frontier:
        kids = [pid for pid, ppid in parent.items() if ppid in frontier]
        out += kids
        frontier = kids
    return out


def same_answer(got, expected) -> bool:
    if isinstance(expected, dict):
        if not isinstance(got, dict) or set(got) != set(expected):
            return False
        return all(
            abs(got[k] - v) <= 1e-6 if isinstance(v, float) and got[k] is not None else got[k] == v
            for k, v in expected.items()
        )
    return got == expected


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cores: int, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores, self.work = cores, work
        self.data_dir = os.path.join(work, "data")
        self.t_start = time.perf_counter()
        self.spark = None
        self.tables: dict = {}
        self.jvm_peak_kb = 0
        self.jvm_pid = None
        self.call_cpu: dict[tuple[str, str], float] = {}
        self.spans: dict[str, tuple[float, float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_s: dict[str, float] = {}
        self.lines: list[str] = []

    # -- plumbing ------------------------------------------------------------

    def timed(self, group: str, fn):
        """Run ``fn`` and return ``(result, seconds)``. In a traced run the
        Spark jobs it launches carry ``group`` as their job group."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(group, group)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            result = fn()
        finally:
            secs = time.perf_counter() - t0
            self.spans[group] = (wall0 * 1e3, wall0 * 1e3 + secs * 1e3)
            if self.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return result, secs

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the JVM's
        Python workers."""
        t = os.times()
        total = t.user + t.system
        if self.jvm_pid is not None:
            total += sum(proc_cpu_s(pid) for pid in [self.jvm_pid, *descendants(self.jvm_pid)])
        return total

    def fail(self, what: str, err) -> None:
        self.failures.append(f"{what}: {err}")
        print(f"FAIL {what}: {str(err)[:300]}", file=sys.stderr)

    def over_time(self) -> bool:
        return time.perf_counter() - self.t_start > HARD_STOP_S

    def setup(self) -> None:
        """Make this fresh process ready and time each step: session start
        (importing the engine and launching the JVM), the resident table
        load, and the workload state (point ops: the supplier→part node and
        edge tables, persisted and counted)."""
        t0, c0 = time.perf_counter(), self.cpu_s()
        from pyspark import SparkContext

        from kinbaku_spark.session import get_spark
        from kinbaku_spark.sources import tables

        self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        if self.workload == "graph_point_ops":
            tables.load_table(self.spark, self.data_dir, "lineitem")
        else:
            tables.load_tables(self.spark, self.data_dir)
        t2 = time.perf_counter()
        if self.workload == "graph_point_ops":
            edges = tables.supplier_part_edges(self.spark, self.data_dir).persist()
            nodes = tables.supplier_part_nodes(self.spark, self.data_dir).persist()
            edges.count()
            nodes.count()
            self.tables = {"nodes": nodes, "edges": edges}
        t3 = time.perf_counter()
        self.setup_s = {"total": t3 - t0, "start": t1 - t0, "load": t2 - t1, "state": t3 - t2}
        self.setup_cpu_s = self.cpu_s() - c0

    def shutdown(self) -> None:
        """Stop Spark and its JVM and wait for the JVM to exit. The JVM's
        peak RSS is read just before it stops."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if proc is not None:
            self.jvm_peak_kb = max(self.jvm_peak_kb, peak_rss_kb(proc.pid))
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        workers = descendants(proc.pid) if proc is not None else []
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        # the JVM's Python worker daemons exit once their parent is gone
        deadline = time.perf_counter() + 30
        while workers and time.perf_counter() < deadline:
            workers = [pid for pid in workers if os.path.exists(f"/proc/{pid}")]
            time.sleep(0.05)

    # -- query workloads -----------------------------------------------------

    def run_queries(self, answers: dict) -> dict:
        from kinbaku_spark.queries import QUERIES
        from scripts.check_queries import _normalize

        names = QUERY_WORKLOADS[self.workload]

        def call(q: str, tag: str):
            spark, data = self.spark, self.data_dir
            self.attempted += 1
            c0 = self.cpu_s()
            df, build = self.timed(f"{tag}|{q}|build", lambda: QUERIES[q](spark, data))
            _, run = self.timed(f"{tag}|{q}|exec", lambda: df.write.format("noop").mode("overwrite").save())
            self.call_cpu[(q, tag)] = self.cpu_s() - c0
            return build, run

        cold, live = {}, []
        for q in names:
            try:
                cold[q] = call(q, "cold")
            except Exception as err:  # noqa: BLE001 - a failing query is counted, not fatal
                self.fail(q, err)
                continue
            try:
                got = QUERIES[q](self.spark, self.data_dir).toPandas()
                if isinstance(answers[q], str):
                    raise AssertionError(answers[q])
                cols, rows = answers[q]
                if sorted(got.columns) != cols or _normalize(got) != rows:
                    raise AssertionError(f"result differs from the oracle ({len(got)} vs {len(rows)} rows)")
                live.append(q)
            except Exception as err:  # noqa: BLE001
                self.fail(f"{q} check", err)

        warm: dict[str, list[tuple[float, float]]] = {q: [] for q in live}
        deadline = time.perf_counter() + self.seconds
        rep = 0
        while live and (rep < MIN_WARM or (time.perf_counter() < deadline and not self.over_time())):
            for q in live:
                try:
                    warm[q].append(call(q, f"warm{rep}"))
                except Exception as err:  # noqa: BLE001
                    self.fail(f"{q} warm", err)
            rep += 1
        self.shutdown()

        self.lines.append(f"queries: {len(names)} listed, {len(live)} checked green, {rep} warm passes")
        if not self.trace:
            self.lines += [
                f"{q:32s} cold {sum(cold[q]):7.3f}s | warm {stats.median([b + r for b, r in warm[q]]):7.3f}s"
                for q in live
            ]
        out = {
            "suite_cold_s": sum(b + r for b, r in cold.values()),
            "suite_warm_s": sum(stats.median([b + r for b, r in warm[q]]) for q in live),
            "suite_cold_cpu_s": sum(self.call_cpu[(q, "cold")] for q in cold),
            "suite_warm_cpu_s": sum(
                stats.median([self.call_cpu[(q, f"warm{r}")] for r in range(rep) if (q, f"warm{r}") in self.call_cpu])
                for q in live
            ),
        }
        if self.trace:
            out.update(self.query_layers(names, cold, warm, rep))
        return out

    def query_layers(self, names, cold, warm, reps) -> dict:
        from eventlog import fold_dir

        folded = fold_dir(os.path.join(self.work, "events"))
        calls = {}  # (query, tag) -> per-call work
        for q in names:
            for tag in ["cold"] + [f"warm{r}" for r in range(reps)]:
                groups = [f"{tag}|{q}|build", f"{tag}|{q}|exec"]
                if all(g in self.spans for g in groups):
                    calls[(q, tag)] = self.call_work(groups, folded)
        rows, layer = [], {k: 0.0 for k in SPARK_LAYER}
        for q in names:
            warm_calls = [calls[(q, f"warm{r}")] for r in range(reps) if (q, f"warm{r}") in calls]
            med = {k: stats.median([c[k] for c in warm_calls]) for k in SPARK_LAYER}
            for k in SPARK_LAYER:
                layer[k] += med[k]
            c = calls.get((q, "cold"))
            rows.append(
                f"{q:32s} cold {sum(cold.get(q, (0, 0))):7.3f}s jobs {c['spark.jobs'] if c else 0:4.0f}"
                f" | warm {stats.median([b + r for b, r in warm.get(q, [])]):7.3f}s"
                f" jobs {med['spark.jobs']:4.0f} stages {med['spark.stages']:4.0f}"
                f" tasks {med['spark.tasks']:5.0f} gap {med['spark.driver_gap_s']:6.3f}s"
                f" cpu {med['spark.executor_cpu_s']:6.3f}s py {med['functions.python_bytes']:9.0f}B"
            )
        self.lines += ["per-query (cold | warm median):"] + rows
        build_jobs = sum(folded[f"cold|{q}|build"].jobs for q in names if f"cold|{q}|build" in folded)
        return {
            **layer,
            "queries.build_cold_s": sum(b for b, _ in cold.values()),
            "queries.build_warm_s": sum(stats.median([b for b, _ in warm[q]]) for q in warm),
            "queries.build_jobs": build_jobs,
        }

    def call_work(self, groups: list[str], folded) -> dict:
        """Spark work of one timed call, summed over its job groups."""
        from eventlog import GroupWork, driver_gap_s

        out = {k: 0.0 for k in SPARK_LAYER}
        for g in groups:
            w = folded.get(g, GroupWork())
            start, end = self.spans[g]
            out["spark.jobs"] += w.jobs
            out["spark.stages"] += w.stages
            out["spark.tasks"] += w.tasks
            out["spark.task_failures"] += w.task_failures
            out["spark.driver_gap_s"] += driver_gap_s(start, end, w.job_intervals_ms)
            out["spark.executor_cpu_s"] += w.executor_cpu_s
            out["spark.shuffle_read_mb"] += w.shuffle_read_bytes / 2**20
            out["spark.shuffle_write_mb"] += w.shuffle_write_bytes / 2**20
            out["spark.spill_mb"] += w.spill_bytes / 2**20
            out["spark.gc_s"] += w.gc_s
            out["functions.python_bytes"] += w.python_bytes
        return out

    # -- point ops -------------------------------------------------------------

    def run_point_ops(self, edges: dict) -> dict:
        from kinbaku_spark.graph import Graph

        model = graph_model(edges)
        stream = OpStream(model, self.seed)

        ops = []  # (session, index, op, seconds, read_after_write)
        session_s, session_cpu = [], []
        deadline = None
        while len(session_s) <= MIN_WARM or (time.perf_counter() < deadline and not self.over_time()):
            k = len(session_s)
            graph = Graph(self.spark, nodes=self.tables["nodes"], edges=self.tables["edges"])
            model.reset()
            total = cpu = 0.0
            for i, (op, args, raw) in enumerate(stream.session()):
                want = model.expect(op, args)
                self.attempted += 1
                c0 = self.cpu_s()
                try:
                    got, secs = self.timed(f"op|{k}|{i}|{op}", lambda: POINT_CALLS[op](graph, args))
                    if not same_answer(got, want):
                        self.fail(f"{op}{args}", f"got {got!r}, want {want!r}")
                except Exception as err:  # noqa: BLE001
                    start, end = self.spans[f"op|{k}|{i}|{op}"]
                    secs = (end - start) / 1e3
                    self.fail(f"{op}{args}", err)
                if op == "add_edge":
                    model.add_edge(args[0], args[1], args[2]["weight"])
                elif op == "remove_edge":
                    model.remove_edge(*args)
                ops.append((k, i, op, secs, raw))
                total += secs
                cpu += self.cpu_s() - c0
            session_s.append(total)
            session_cpu.append(cpu)
            if deadline is None:  # the warm window starts after the cold session
                deadline = time.perf_counter() + self.seconds
        self.shutdown()

        warm = [o for o in ops if o[0] > 0]
        warm_ms = [o[3] * 1e3 for o in warm]
        warm_s = sum(o[3] for o in warm)
        self.lines.append(
            f"point_ops_per_s {len(warm) / warm_s if warm_s else 0.0:.4f} 1/s"
            f" ({len(warm)} warm ops in {len(session_s) - 1} sessions of {SESSION_OPS})"
        )
        for pct in (99.0, 95.0):
            value = stats.reportable(warm_ms, pct)
            n_beyond = stats.beyond(len(warm_ms), pct)
            shown = f"{value:.4f} ms" if value is not None else "withheld"
            self.lines.append(f"point_p{pct:g}_ms {shown} (n={len(warm_ms)}, {n_beyond} beyond)")
        out = {
            "suite_cold_s": session_s[0],
            "suite_warm_s": stats.median(session_s[1:]),
            "suite_cold_cpu_s": session_cpu[0],
            "suite_warm_cpu_s": stats.median(session_cpu[1:]),
        }
        if self.trace:
            out.update(self.point_layers(ops, len(session_s)))
        return out

    def point_layers(self, ops, n_sessions) -> dict:
        from eventlog import fold_dir

        folded = fold_dir(os.path.join(self.work, "events"))
        per_session = [{k: 0.0 for k in SPARK_LAYER} for _ in range(n_sessions)]
        jobs, reads, reads_nojob = 0, 0, 0
        for k, i, op, _, _ in ops:
            work = self.call_work([f"op|{k}|{i}|{op}"], folded)
            for key, v in work.items():
                per_session[k][key] += v
            if k > 0:
                jobs += work["spark.jobs"]
                if op in READS:
                    reads += 1
                    reads_nojob += work["spark.jobs"] == 0
        warm = [o for o in ops if o[0] > 0]
        out = {k: stats.median([s[k] for s in per_session[1:]]) for k in SPARK_LAYER}
        for op in OPS:
            out[f"graph.{op}_p50_ms"] = stats.median([o[3] * 1e3 for o in warm if o[2] == op])
        out["graph.jobs_per_op"] = jobs / len(warm) if warm else 0.0
        out["graph.read_nojob_ratio"] = reads_nojob / reads if reads else 0.0
        out["graph.read_after_write_p50_ms"] = stats.median([o[3] * 1e3 for o in warm if o[4]])
        return out

    # -- run -------------------------------------------------------------------

    def run(self, expected: dict) -> dict:
        try:
            self.setup()
            if self.workload == "graph_point_ops":
                measured = self.run_point_ops(expected["edges"])
            else:
                measured = self.run_queries(expected["answers"])
        finally:
            self.shutdown()
        # the driver process plus its JVM; the generator and the oracle ran
        # in a child of their own
        measured["peak_rss_mb"] = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + self.jvm_peak_kb) / 1024

        import pyspark

        self.lines.insert(
            0,
            f"config: workload {self.workload} seed {self.seed} sf {SF} local[{self.cores}]"
            f" spark {pyspark.__version__} python {platform.python_version()} trace {int(self.trace)}",
        )
        measured["setup_s"] = self.setup_cpu_s
        measured["session.start_s"] = self.setup_s["start"]
        measured["sources.load_s"] = self.setup_s["load"]
        rows = expected["rows"]
        measured["sources.rows"] = rows["lineitem"] if self.workload == "graph_point_ops" else sum(rows.values())
        measured["trace.suite_warm_cpu_s"] = measured["suite_warm_cpu_s"]
        wanted = PER_LAYER if self.trace else END_TO_END
        metrics = {k: {"value": float(measured.get(k, 0.0)), "unit": u} for k, u in wanted.items()}

        failed = len(self.failures)
        for name, m in metrics.items():
            self.lines.append(f"{name} {m['value']:.6g} {m['unit']}")
        self.lines += [
            f"wall clock: suite_cold {measured['suite_cold_s']:.3f} s, suite_warm {measured['suite_warm_s']:.3f} s,"
            f" setup (total/start/load/state) {' / '.join(f'{v:.2f}' for v in self.setup_s.values())} s",
            f"failed_ratio {failed / max(1, self.attempted):.4f} ratio ({failed}/{self.attempted})",
        ]
        return {
            "correct": failed == 0,
            "attempted": max(1, self.attempted),
            "failed": failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kinbaku_spark", "__init__.py")):
        print(f"perfbench: no kinbaku_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.makedirs(work)
        cmd = [sys.executable, os.path.join(HERE, "expected.py"), work, "--seed", str(args.seed), "--sf", str(SF)]
        if args.workload == "graph_point_ops":
            cmd.append("--graph")
        else:
            cmd += ["--queries", *QUERY_WORKLOADS[args.workload]]
        run_child(cmd)
        with open(os.path.join(work, "expected.pkl"), "rb") as fh:
            expected = pickle.load(fh)
        configure_env(work, cores, trace)
        bench = Bench(args.workload, args.seed, args.seconds, trace, cores, work)
        result = bench.run(expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("\n".join(bench.lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
