"""Seeded, closed-loop benchmark of the link-graph engine.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 10 --trace 0

One caller runs one operation at a time on ``local[nproc]`` in this
process, through the engine's public functions and with the arguments
``job.run`` passes by default. A run sets up once: JVM launch and
session start, as a ``job.py`` run pays them, then a warm-up on a tiny
input of the workload's kind. It then repeats the workload's pass on
that session until
``--seconds`` have gone by (at least one timed pass on
``corpus_pipeline``, two on ``barrier_loops``). Every output
is checked, untimed, against a reference the engine did not compute
(``checks.py``).

The second-to-last line of standard output is a JSON report (per-op
medians, fail ratio, host probes); the last line is the result:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (see README.md for what each one is and which end-to-end
metric it should move).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import Callable, NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "incubator_hugegraph_computer_spark"

CORPUS_FILES = 20_000
WARMUP_FILES = 200
# customers, orders: small, but with a cycle, so SCC runs the same
# stages as on the timed graph (~180 jobs); an acyclic one is emptied by
# the trim rounds in 55 jobs and leaves the first timed pass 25-40% slower
WARMUP_ORDERS = (60, 600)

SPANS = (
    "sources.extract_edges",
    "graph.build",
    "operators.pagerank",
    "operators.scc",
)
E2E_UNITS = {"setup_s": "s", "run_s": "s", "peak_rss_mb": "MB"}
RUN_COUNTERS = {
    "session.start_ms": "ms",
    "session.warmup_ms": "ms",
    "plans.gap_ms_per_job": "ms",
    "tasks_failed": "count",
    "spill_bytes": "bytes",
    "gc_ms": "ms",
}


def host_settings() -> dict:
    nproc = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # the inputs are small; a quarter of RAM, at most 2g, leaves the
    # rest of a shared host to its neighbours
    return {"nproc": nproc, "driver_memory": f"{max(1, min(2, int(phys_gb // 4)))}g"}


def java_tmp_opts(run_dir: str) -> str:
    return f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"


def prepare_env(run_dir: str) -> None:
    """Point Spark's scratch space into ``run_dir`` and let the Python
    workers, which the JVM starts, import the package. Call before the
    first session of the process."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # spark-submit first runs a small launcher JVM; keep its files in the
    # run directory too (the driver JVM gets the same flags in new_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = java_tmp_opts(run_dir)
    for path in (ROOT, HERE):
        if path not in sys.path:
            sys.path.insert(0, path)


def new_session(host: dict, run_dir: str):
    from incubator_hugegraph_computer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{host['nproc']}]",
        shuffle_partitions=max(4, host["nproc"]),
        extra_confs={
            "spark.driver.memory": host["driver_memory"],
            "spark.driver.extraJavaOptions": java_tmp_opts(run_dir),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # keep every job of a pass in the status store for the trace
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def memory_pids(jvm_pid: int) -> list[int]:
    """This process, the driver JVM and the JVM's live Python workers."""
    return [os.getpid(), jvm_pid, *_descendants(jvm_pid)]


def peak_rss_mb(pids: list[int]) -> float:
    """The processes' RSS high-water marks, summed."""
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Lower each high-water mark to the current RSS, so memory a check
    used and gave back does not count in the next pass's peak."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process has exited


def timing(values: list[float], unit: str) -> dict:
    """Median, the highest percentile with ten samples beyond it, and n."""
    xs = sorted(values)
    out = {"median": statistics.median(xs), "n": len(xs), "unit": unit}
    if len(xs) >= 20:
        pct = int(100 * (1 - 10 / len(xs)))
        out[f"p{pct}"] = xs[min(len(xs) - 1, int(len(xs) * pct / 100))]
    return out


class Bench:
    """State of one run: the session, the tracer and the tallies."""

    def __init__(self, spark, tracer, seed: int, input_dir: str, jvm_pid: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.input_dir = input_dir
        self.jvm_pid = jvm_pid
        self.op_s: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.rss_mb: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.memo: dict[str, object] = {}
        self._pass: dict[str, float] = {}

    def call(self, metric: str, span: str, fn):
        """Run one timed call; its wall time adds to ``metric`` for this pass."""
        out = self.tracer.span(span, fn)
        self._pass[metric] = self._pass.get(metric, 0.0) + (
            self.tracer.calls[span][-1]["wall_ms"] / 1000.0
        )
        return out

    def verify(self, metric: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{metric}: {reason}")

    def reference(self, key: str, fn):
        """The same seed gives the same inputs, so each reference is
        computed once per run."""
        if key not in self.memo:
            self.memo[key] = fn()
        return self.memo[key]

    def run_pass(self, pass_fn) -> None:
        """One timed pass. ``pass_fn`` makes the timed calls and returns
        the untimed checks; the memory peak is read before they run."""
        self._pass = {}
        check = pass_fn(self)
        for k, v in self._pass.items():
            self.op_s.setdefault(k, []).append(v)
        self.pass_s.append(sum(self._pass.values()))
        self.rss_mb.append(peak_rss_mb(memory_pids(self.jvm_pid)))
        check()
        reset_peak_rss(memory_pids(self.jvm_pid))


# ------------------------------------------------------------ workloads
def corpus_pipeline(b: Bench):
    """generate_repo_files -> extract_edges(verify=True) -> Graph.cache ->
    pagerank (job.py --generate --algorithm pagerank)."""
    import checks
    from incubator_hugegraph_computer_spark.operators.pagerank import pagerank

    # generate_repo_files only plans; its rows are made inside the jobs
    # of the next spans, so it is timed together with extract_edges
    vertices, edges = b.call("ingest_s", "sources.extract_edges",
                             lambda: ingest(b.spark, CORPUS_FILES, b.seed))
    graph = b.call("ingest_s", "graph.build", lambda: corpus_graph(vertices, edges))
    rows = b.call("pagerank_s", "operators.pagerank", lambda: pagerank(graph).collect())

    def check():
        try:
            ids, ref = b.reference("corpus", lambda: checks.corpus_reference(
                vertices.select("id", "path").toPandas(), CORPUS_FILES, b.seed))
            b.verify("ingest_s", checks.check_ingest(
                CORPUS_FILES, ids, ref, graph.edges.toPandas()))
            want = b.reference("pagerank", lambda: checks.pagerank_reference(ids, ref))
            b.verify("pagerank_s", checks.check_pagerank(want, ids, rows))
        finally:
            graph.unpersist()
    return check


def barrier_loops(b: Bench):
    """scc on the orders-shaped graph (sources/tpch_graph.orders_graph
    over a seeded orders table)."""
    import checks
    from incubator_hugegraph_computer_spark.operators.scc import scc
    from incubator_hugegraph_computer_spark.sources.tpch_graph import orders_graph

    graph = b.call("graph_build_s", "graph.build",
                   lambda: cache_and_count(orders_graph(b.spark, b.input_dir)))
    rows = b.call("scc_s", "operators.scc", lambda: scc(graph).collect())

    def check():
        try:
            ids, ref = b.reference("orders", lambda: checks.orders_reference(
                checks.orders_table(b.seed)))
            b.verify("graph_build_s", checks.check_graph(
                ids, ref, graph.vertices.collect(), graph.edges.collect()))
            b.verify("scc_s", checks.check_scc(ids, ref, rows))
        finally:
            graph.unpersist()
    return check


def ingest(spark, n_files: int, seed: int):
    from incubator_hugegraph_computer_spark.sources.extractor import extract_edges
    from incubator_hugegraph_computer_spark.sources.repo_files import generate_repo_files

    return extract_edges(generate_repo_files(spark, n_files, seed=seed), verify=True)


def cache_and_count(graph):
    """Cache ``graph`` and count it, as ``job.run`` does before it runs
    an algorithm."""
    g = graph.cache()
    g.num_vertices()
    g.num_edges()
    return g


def corpus_graph(vertices, edges):
    from incubator_hugegraph_computer_spark.graph import Graph

    return cache_and_count(Graph(vertices.select("id"), edges))


def write_orders(input_dir: str, seed: int, customers: int, rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import checks

    os.makedirs(input_dir, exist_ok=True)
    cols = checks.orders_table(seed, customers, rows)
    pq.write_table(
        pa.table({k: pa.array(v, pa.int64()) for k, v in cols.items()}),
        os.path.join(input_dir, "orders.parquet"),
    )


def warm_up_corpus(spark, input_dir: str) -> None:
    """The pass on a tiny corpus, PageRank cut to one superstep: starts
    the Python workers through the engine's pandas path and runs every
    kind of stage the timed passes run once."""
    from incubator_hugegraph_computer_spark.operators.pagerank import pagerank

    g = corpus_graph(*ingest(spark, WARMUP_FILES, seed=0))
    pagerank(g, max_supersteps=1).collect()
    g.unpersist()


def warm_up_orders(spark, input_dir: str) -> None:
    """The pass on a tiny orders graph."""
    from incubator_hugegraph_computer_spark.operators.scc import scc
    from incubator_hugegraph_computer_spark.sources.tpch_graph import orders_graph

    g = cache_and_count(orders_graph(spark, os.path.join(input_dir, "tiny")))
    scc(g).collect()
    g.unpersist()


def prepare_orders(input_dir: str, seed: int) -> None:
    import checks

    write_orders(input_dir, seed, checks.ORDERS_CUSTOMERS, checks.ORDERS_ROWS)
    write_orders(os.path.join(input_dir, "tiny"), 0, *WARMUP_ORDERS)


class Workload(NamedTuple):
    run_pass: Callable[[Bench], Callable[[], None]]
    warm_up: Callable  # (spark, input_dir), part of the set-up
    prepare: Callable | None  # (input_dir, seed), before the set-up, untimed
    # timed passes a run makes at least, also past --seconds
    min_passes: int


WORKLOADS = {
    "corpus_pipeline": Workload(corpus_pipeline, warm_up_corpus, None, min_passes=1),
    "barrier_loops": Workload(barrier_loops, warm_up_orders, prepare_orders, min_passes=2),
}


# ------------------------------------------------------------------ run
def run(args, run_dir: str) -> tuple[dict, dict]:
    from bench import host_probe

    from tracing import SPAN_COUNTERS, Tracer

    workload = WORKLOADS[args.workload]
    host = host_settings()
    probe_before = host_probe((host["nproc"],))
    input_dir = os.path.join(run_dir, "input")
    if workload.prepare is not None:
        workload.prepare(input_dir, args.seed)

    spark = None
    phase = {"begin": time.monotonic()}
    try:
        # the set-up a job.py run pays: JVM launch and session start, then
        # the warm-up
        spark = new_session(host, run_dir)
        phase["start"] = time.monotonic()
        workload.warm_up(spark, input_dir)
        phase["setup"] = time.monotonic()

        tracer = Tracer(spark, enabled=bool(args.trace))
        b = Bench(spark, tracer, args.seed, input_dir, spark.sparkContext._gateway.proc.pid)
        deadline = time.monotonic() + args.seconds
        try:
            while len(b.pass_s) < workload.min_passes or time.monotonic() < deadline:
                b.run_pass(workload.run_pass)
        except Exception as exc:  # a crashed operation is a failed one
            traceback.print_exc()
            b.attempted += 1
            b.failures.append(f"{type(exc).__name__}: {exc}")
        phase["measure"] = time.monotonic()
    finally:
        if spark is not None:
            stop_spark(spark)
    phase["stop"] = time.monotonic()
    probe_after = host_probe((host["nproc"],))

    e2e_values = {
        "setup_s": phase["setup"] - phase["begin"],
        "run_s": statistics.median(b.pass_s) if b.pass_s else 0.0,
        "peak_rss_mb": max(b.rss_mb, default=0.0),
    }
    e2e = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e_values.items()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "host_probe_before": probe_before,
        "host_probe_after": probe_after,
        "passes": len(b.pass_s),
        "fail_ratio": len(b.failures) / max(1, b.attempted),
        "failures": b.failures,
        "phase_s": {
            "session_start": phase["start"] - phase["begin"],
            "warm_up": phase["setup"] - phase["start"],
            "measure": phase["measure"] - phase["setup"],
            "untimed": phase["measure"] - phase["setup"] - sum(b.pass_s),
            "stop": phase["stop"] - phase["measure"],
        },
        "pass_s": b.pass_s,
        "pass_peak_rss_mb": b.rss_mb,
        "timings": {
            "run_s": timing(b.pass_s, "s"),
            **{k: timing(v, "s") for k, v in b.op_s.items()},
        },
    }
    if not args.trace:
        metrics = e2e
    else:
        metrics = {}
        for span in SPANS:
            summary = tracer.span_summary(span)
            for counter, unit in SPAN_COUNTERS.items():
                metrics[f"{span}.{counter}"] = {"value": summary[counter], "unit": unit}
        op_calls = [x for s in SPANS if s.startswith("operators.")
                    for x in tracer.calls.get(s, [])]
        jobs = sum(x["jobs"] for x in op_calls)
        gap = sum(x["driver_gap_ms"] for x in op_calls)
        passes = max(1, len(b.pass_s))
        run_values = {
            "session.start_ms": (phase["start"] - phase["begin"]) * 1000.0,
            "session.warmup_ms": (phase["setup"] - phase["start"]) * 1000.0,
            "plans.gap_ms_per_job": gap / jobs if jobs else 0.0,
            "tasks_failed": tracer.totals["tasks_failed"] / passes,
            "spill_bytes": tracer.totals["spill_bytes"] / passes,
            "gc_ms": tracer.totals["gc_ms"] / passes,
        }
        for name, unit in RUN_COUNTERS.items():
            metrics[name] = {"value": run_values[name], "unit": unit}
        # the traced run's own end-to-end numbers and the time its
        # status-store reads took per pass, outside every span, to read
        # the tracing overhead against the untraced runs
        report["traced_e2e"] = e2e
        report["trace_read_ms"] = tracer.read_ms / passes
    result = {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "metrics": metrics,
    }
    return report, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    prepare_env(run_dir)
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
