"""Benchmark of nano_vectordb_rs_spark through its public API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload vector_mixed --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py and README.md): vector_mixed, pipeline. With ``--trace 0`` the last line of stdout is one JSON object with
the end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
and the full trace is written under ``.perfbench_work/traces/``. Every run
appends a record, keyed by its configuration, to
``.perfbench_work/records.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from typing import Any

import core
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")



def metric_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from
    BENCHMARK.json at the root of the checkout."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# further end-to-end numbers, printed and recorded where a workload has them
DETAIL_UNITS = {
    "op_tail_ms": "ms",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "batch_query_qps": "1/s",
    "get_p50_ms": "ms",
    "upsert_p50_ms": "ms",
    "upsert_tail_ms": "ms",
    "save_p50_ms": "ms",
    "ingest_vectors_per_s": "1/s",
    "pipeline_pass_s": "s",
    "stored_bytes_per_vector_byte": "ratio",
    "peak_rss_mb": "MB",
    "gc_ms_per_step": "ms",
    "host_steal_pct": "%",
    "error_rate": "ratio",
}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "nano_vectordb_rs_spark", "collection.py")) and (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    )


def configure_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and pin the session shape (cores, heap) the records are keyed by."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that spark-submit starts first
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options '{jvm_opts}' pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


class Bench:
    """One run: the session, the tracer, the operation wrappers and the tally
    of attempted and failed operations."""

    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.tracer = core.Tracer(self.trace)
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.traced_latencies: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.detail: dict[str, Any] = {}
        self.get_spark_ms: list[float] = []
        self.plan_nodes: list[int] = []
        self.cached_rdds: list[int] = []
        self.save_stats: list[tuple[int, int]] = []
        self.warming = False
        self.spark = None
        self.jvm = None
        self.ticks0 = core.cpu_ticks()

    # -- session --------------------------------------------------------

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def start_session(self):
        """Start a fresh session (in the running JVM, once there is one)."""
        from nano_vectordb_rs_spark import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.get_spark_ms.append(1000.0 * (time.perf_counter() - t0))
        self.jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        if self.trace:
            self.tracer.counter = core.JobCounter(self.spark)
        return self.spark

    def close(self) -> None:
        """Stop Spark and its JVM and wait until the JVM has exited."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm is not None:
            if self.jvm.stdin:
                self.jvm.stdin.close()  # the gateway exits when its stdin closes
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()

    # -- operations -----------------------------------------------------

    def _op(self, kind: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:400])
            traceback.print_exc(file=sys.stderr)
            return None
        ms = 1000.0 * (time.perf_counter() - t0)
        if self.warming:
            return out
        (self.traced_latencies if self.tracer.enabled else self.latencies)[kind].append(ms)
        return out

    def _call(self, name: str, build, execute=None):
        """One call into the program: a span named after it, with ``build``
        and ``exec`` phases when the call returns a plan to collect."""
        with self.tracer.span(name):
            if execute is None:
                return build()
            with self.tracer.span(name, "build"):
                df = build()
            with self.tracer.span(name, "exec"):
                return execute(df)

    def query(self, col, q, top_k: int, better_than=None, where=None):
        return self._op(
            "query",
            lambda: self._call(
                "collection.query",
                lambda: col.query(q.tolist(), top_k=top_k, better_than=better_than, where=where),
                lambda df: df.collect(),
            ),
        )

    def query_batch(self, col, qs, top_k: int):
        def build():
            block = self.spark.createDataFrame(
                [(f"q{n}", q.tolist()) for n, q in enumerate(qs)],
                "__id__ string, vector array<float>",
            )
            return col.query_batch(block, top_k=top_k)

        return self._op(
            "query_batch",
            lambda: self._call("collection.query_batch", build, lambda df: df.collect()),
        )

    def get(self, col, ids):
        return self._op(
            "get", lambda: self._call("collection.get", lambda: col.get(ids), lambda df: df.collect())
        )

    def upsert(self, col, batch_df):
        return self._op("upsert", lambda: self._call("collection.upsert", lambda: col.upsert(batch_df)))

    def delete(self, col, ids):
        return self._op("delete", lambda: self._call("collection.delete", lambda: col.delete(ids)))

    def save(self, col):
        done = self._op("save", lambda: self._call("collection.save", lambda: col.save() or True))
        if done:
            self.save_stats.append(core.dir_bytes_files(col.path))
        return done

    def declared(self, spark, layer: str, name: str, fn, fixture: str):
        def execute(df):
            return df.columns, df.collect()

        return self._op(
            "query", lambda: self._call(f"{layer}.{name}", lambda: fn(spark, fixture), execute)
        )

    # -- checks ---------------------------------------------------------

    def check_answer(self, problem: str | None) -> None:
        """Count a wrong answer as a failed operation."""
        if problem is not None:
            self.failed += 1
            self.failures.append(problem[:400])

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        self.check_answer(None if ok else f"{what} is wrong")

    # -- results --------------------------------------------------------

    def samples(self, kind: str) -> list[float]:
        """Every latency of one operation kind, traced or not."""
        return self.latencies[kind] + self.traced_latencies[kind]

    def _pids(self) -> list[int]:
        return [os.getpid()] + ([self.jvm.pid] if self.jvm is not None else [])

    def cpu_seconds(self) -> float:
        """CPU time used so far by this process and its descendants: the JVM
        and Spark's Python workers."""
        return core.tree_cpu_seconds([os.getpid()])

    def gc_seconds(self) -> float:
        """Total collection time of the JVM's garbage collectors so far."""
        beans = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def result(self, setup_s: float, primary: str) -> dict[str, Any]:
        lat = self.samples(primary)
        tail, pct = core.tail_percentile(lat)
        d = self.detail
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": core.median(lat),
            "steps_per_s": d["steps_per_s"],
            "cpu_ms_per_step": d["cpu_ms_per_step"],
        }
        d["peak_rss_mb"] = core.peak_rss_mb(self._pids())
        d["op"] = primary
        d["op_samples"] = len(lat)
        d["op_tail_ms"], d["op_tail_pct"] = tail, pct
        for kind in set(self.latencies) | set(self.traced_latencies):
            xs = self.samples(kind)
            if xs:
                d[f"{kind}_p50_ms"] = core.median(xs)
                d[f"{kind}_tail_ms"], d[f"{kind}_tail_pct"] = core.tail_percentile(xs)
        d["latencies_ms"] = {k: self.samples(k) for k in set(self.latencies) | set(self.traced_latencies)}
        d["error_rate"] = self.failed / max(1, self.attempted)
        d["host_steal_pct"] = core.steal_pct(self.ticks0, core.cpu_ticks())
        d["cached_rdds_series"] = self.cached_rdds
        d["plan_nodes_series"] = self.plan_nodes
        if self.trace:
            return self._layers(primary, d)
        return e2e

    def _layers(self, primary: str, d: dict[str, Any]) -> dict[str, Any]:
        spans = self.tracer.spans
        # op None: set-up; op -1: warm-up (left out); op >= 0: the loop
        loop = [s for s in spans if s.op is not None and s.op >= 0]
        by_name = core.span_metrics([s for s in spans if s.op != -1])
        shares = core.self_pct(loop)
        n_ops = len({s.op for s in loop}) or 1

        def per_call(prefix: str, what: str, phase: str = "") -> float:
            calls = [s for s in loop if s.name.startswith(prefix + ".") and s.phase == phase]
            return sum(s.counts.get(what, 0) for s in calls) / max(1, len(calls))

        load_calls = [s for s in loop if s.name == "sources.load_table"]
        untraced = self.latencies[primary]
        traced = self.traced_latencies[primary]
        overhead = (
            100.0 * (core.median(traced) / core.median(untraced) - 1.0) if traced and untraced else 0.0
        )
        if not self.cached_rdds and self.spark is not None:
            self.cached_rdds.append(core.persistent_rdds(self.spark))
        save_bytes, save_files = self.save_stats[-1] if self.save_stats else (0, 0)
        layers = {
            "session.get_spark_ms": core.median(self.get_spark_ms),
            "sources.load_table.calls": len(load_calls) / n_ops,
            "sources.load_table.jobs": sum(s.counts.get("jobs", 0) for s in load_calls)
            / max(1, len(load_calls)),
            "operators.build_jobs": per_call("operators", "jobs", "build"),
            "operators.jobs": per_call("operators", "jobs"),
            "operators.tasks": per_call("operators", "tasks"),
            "streaming.jobs": per_call("streaming", "jobs"),
            "streaming.tasks": per_call("streaming", "tasks"),
            "collection.query.jobs": by_name.get("collection.query.jobs", 0.0),
            "collection.query.tasks": by_name.get("collection.query.tasks", 0.0),
            "collection.upsert.jobs": by_name.get("collection.upsert.jobs", 0.0),
            "collection.upsert.tasks": by_name.get("collection.upsert.tasks", 0.0),
            "collection.cached_rdds": self.cached_rdds[-1],
            "collection.plan_nodes": max(self.plan_nodes, default=0),
            "collection.save.bytes": save_bytes,
            "collection.save.files": save_files,
            "trace.overhead_pct": overhead,
            "host.steal_pct": d["host_steal_pct"],
        }
        for layer in ("bench", "sources", "collection", "operators", "streaming"):
            layers[f"{layer}.self_pct"] = shares.get(layer, 0.0)
        d["layers"] = by_name
        return layers


def run_config(bench: Bench) -> dict[str, Any]:
    import pyspark

    conf = bench.spark.sparkContext.getConf() if bench.spark is not None else None
    get = (lambda k: conf.get(k)) if conf is not None else (lambda k: None)
    return {
        "workload": bench.workload,
        "seed": bench.seed,
        "seconds": bench.seconds,
        "trace": int(bench.trace),
        "master": get("spark.master"),
        "shuffle_partitions": get("spark.sql.shuffle.partitions"),
        "driver_memory": get("spark.driver.memory"),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print(f"perfbench: no nano_vectordb_rs_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_environment(run_dir)
    bench = Bench(args, run_dir)
    try:
        metrics = WORKLOADS[args.workload](bench)
        config = run_config(bench)
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    units = metric_units("per_layer" if bench.trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    detail = bench.detail
    record = {
        "config": config,
        "config_key": core.config_key(config),
        "time": time.time(),
        "metrics": metrics,
        "detail": {k: v for k, v in detail.items() if k != "layers"},
        "attempted": bench.attempted,
        "failed": bench.failed,
        "failures": bench.failures[:20],
    }
    base = core.baseline_for(core.read_records(os.path.join(WORK, "records.jsonl")), config)
    core.append_record(os.path.join(WORK, "records.jsonl"), record)
    if bench.trace:
        bench.tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"config": config, "layers": detail.get("layers", {}), "summary": metrics},
        )

    for name, value in metrics.items():
        prior = f"  (baseline {base['metrics'][name]:.6g})" if base and name in base["metrics"] else ""
        print(f"{name:32s} {value:14.6g} {units[name]}{prior}")
    for name, unit in DETAIL_UNITS.items():
        if detail.get(name) is not None:
            print(f"{name:32s} {detail[name]:14.6g} {unit}")
    print(f"{'op_tail_pct':32s} {detail['op_tail_pct']:14.6g} percentile of {detail['op_samples']} samples")
    for problem in bench.failures[:10]:
        print(f"FAILED: {problem}", file=sys.stderr)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": float(v), "unit": units[name]} for name, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
