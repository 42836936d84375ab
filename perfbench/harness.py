"""Session, set-up, closed-loop measurement and metrics for one run.

A run is one workload on one seed: generate the inputs, set up
``SETUP_REPS`` times (a new Spark session, the graph build, the first
answer), warm every operation kind up once, settle the JVM with untimed
operations, drive one closed-loop client for the given seconds, check
every answer against an oracle outside the timed region, and report the
end-to-end metrics (untraced) or the per-layer metrics (traced).
``setup_s`` is the median set-up plus the warm-up. Between operations a
fixed reference query runs; ``op_latency_rel`` is a typical operation's
latency in units of the reference's median time in the same run.

In a traced run each class of operation (a read shape and whether its
pair repeats, a write kind) alternates between traced
and untraced, so ``trace.overhead_ratio`` compares the two within one
run, and the per-layer figures come from the traced operations.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from .trace import JobCounter, Tracer

SETUP_REPS = 3
# Spark runs one task thread. With the JVM's compiler and GC threads and
# this Python process that keeps the run's busy threads within the
# machine's CPUs, and on tiny inputs more task threads only add
# scheduling.
SPARK_CORES = 1
# The reference: a fixed Spark query that uses no graphlite_spark code,
# run between operations until its time is REFERENCE_SHARE of the
# operations' time. Its median is the unit of ``op_latency_rel``, so a
# host that slows every query for a minute slows the unit as much.
REFERENCE_SHARE = 0.2
REFERENCE_CONF = (("spark.sql.shuffle.partitions", "1"),
                  ("spark.sql.adaptive.enabled", "true"),
                  ("spark.sql.codegen.wholeStage", "true"))
READ_SCALE = 0.01  # interactive_reads: TPC-H graph scale factor
SOCIAL_PERSONS = 2000  # write_mix base graph
SOCIAL_EDGES = 8000


@dataclass
class Op:
    """One closed-loop operation as the client saw it."""

    kind: str
    seconds: float
    ok: bool
    traced: bool
    cpu: float = 0.0  # CPU seconds of the Python and JVM processes
    parts: dict[str, float] = field(default_factory=dict)
    jobs: tuple[int, int, int] = (0, 0, 0)
    write_jobs: int = 0
    group: str = ""
    klass: object = None


class Clock:
    """Run length in whole units (a read, a write unit): the first
    ``min_units`` always run, and another starts only if it would end
    within the seconds, judging by the length of the unit before it."""

    def __init__(self, seconds: float, min_units: int = 1):
        self.end = time.perf_counter() + seconds
        self.started: float | None = None
        self.left = min_units

    def more(self) -> bool:
        now = time.perf_counter()
        if (self.left <= 0 and self.started is not None
                and now + (now - self.started) > self.end):
            return False
        self.started = now
        self.left -= 1
        return True


class Harness:
    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{workload}-s{seed}-p{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.tracer = Tracer() if trace else None
        self.spark = None
        self._jvm_proc = None
        self.jobs: JobCounter | None = None
        self.ops: list[Op] = []
        self.reference_s: list[float] = []
        self._reference_session = None
        self.failures: list[str] = []
        self.turns: dict = {}  # operation class -> operations so far
        self.setup: dict[str, list[float]] = {
            "setup_s": [], "session.start_s": [], "datasets.graph_build_s": [],
            "setup.ready_s": [], "setup.warmup_s": []}
        self.table_partitions = 0  # write_mix, traced runs
        # class weights in typical_latency: equal, or each class's share
        self.equal_class_weights = False

    # -- lifecycle ---------------------------------------------------------------
    def start_session(self):
        """A new Spark session; the JVM starts with the first one."""
        from graphlite_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = SPARK_CORES
        # every file Spark and the JVM write stays under the work directory
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_proc = (self.spark.sparkContext._jvm.java.lang
                          .ProcessHandle.current())
        self._reference_session = None
        self.jobs = JobCounter(self.spark.sparkContext)
        return self.spark

    def close(self) -> None:
        """Stop Spark, wait for its JVM to exit, delete the work dir."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                # the gateway JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)

    def run_setup(self, build, ready, warm):
        """Set up SETUP_REPS times, each a new Spark session (the first
        also starts the JVM), a graph ``build`` and the ``ready`` probe
        (first answer); then ``warm`` once, so every operation kind has
        had its first run before the clock starts. ``setup_s`` is the
        median set-up plus the warm-up. Returns what the last ``build``
        made."""
        made, reps = None, []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.start_session()
            t1 = time.perf_counter()
            made = build(self.spark)
            t2 = time.perf_counter()
            ready(made)
            t3 = time.perf_counter()
            reps.append(t3 - t0)
            for k, v in (("session.start_s", t1 - t0),
                         ("datasets.graph_build_s", t2 - t1),
                         ("setup.ready_s", t3 - t2)):
                self.setup[k].append(v)
        t0 = time.perf_counter()
        warm(made)
        warmup = time.perf_counter() - t0
        self.setup["setup.warmup_s"].append(warmup)
        self.setup["setup_s"].append(statistics.median(reps) + warmup)
        return made

    def cpu_now(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM."""
        jvm = 0.0
        if self._jvm_proc is not None:
            jvm = self._jvm_proc.info().totalCpuDuration().get().toNanos() / 1e9
        return time.process_time() + jvm

    def keep_reference_share(self) -> None:
        """Run the reference query until its time is REFERENCE_SHARE of
        the operations' time so far (outside any timed operation)."""
        if self.spark is None:
            return
        if self._reference_session is None:
            self._reference_session = self.spark.newSession()
            for k, v in REFERENCE_CONF:
                self._reference_session.conf.set(k, v)
        ops_s = sum(o.seconds for o in self.ops)
        while sum(self.reference_s) < REFERENCE_SHARE * ops_s:
            t0 = time.perf_counter()
            self._reference_session.range(0, 20_000, 1, 1).selectExpr(
                "id % 97 AS k", "id").groupBy("k").sum("id").collect()
            self.reference_s.append(time.perf_counter() - t0)

    # -- one operation -----------------------------------------------------------
    def collect(self, df, traced: bool):
        if not traced:
            return df.collect()
        with self.tracer.span("catalyst", "executedPlan"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.exec", "collect"):
            return df.collect()

    def traced_turn(self, klass) -> bool:
        """Whether the next operation of ``klass`` is traced: operations
        of a class alternate, and the k-th class to appear starts traced
        when k is even, so both halves see early and late operations."""
        if self.tracer is None:
            return False
        n = self.turns.setdefault(klass, len(self.turns))
        self.turns[klass] = n + 1
        return n % 2 == 0

    def run_op(self, kind: str, body, klass=None):
        """Time ``body(traced, op)`` as one operation of class ``klass``
        (default: ``kind``). An exception is a failed operation and does
        not stop the run."""
        klass = kind if klass is None else klass
        traced = self.traced_turn(klass)
        op_id = len(self.ops)
        group = f"perfbench-op{op_id}"
        op = Op(kind, 0.0, True, traced, group=group, klass=klass)
        result = None
        c0 = self.cpu_now()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.jobs.group(group), self.tracer.operation(op_id, kind):
                    result = body(True, op)
            else:
                result = body(False, op)
        except Exception:  # the client keeps going; the failure is reported
            op.ok = False
            self.fail(f"{kind}: raised\n{traceback.format_exc(limit=3)}")
        op.seconds = time.perf_counter() - t0
        op.cpu = self.cpu_now() - c0
        self.keep_reference_share()
        if traced:
            counts = {p: self.jobs.counts(f"{group}-{p}") for p in op.parts}
            counts[""] = self.jobs.counts(group)
            op.jobs = tuple(sum(c[i] for c in counts.values()) for i in range(3))
            op.write_jobs = counts.get("write", (0,))[0]
        self.ops.append(op)
        return op, result

    @contextmanager
    def phase(self, op: Op, name: str):
        """Time one part of an operation (its writes, its read) and, when
        traced, give its Spark jobs a group of their own."""
        t0 = time.perf_counter()
        if op.traced:
            with self.jobs.group(f"{op.group}-{name}"):
                yield
            self.jobs.set(op.group)
        else:
            yield
        op.parts[name] = time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check(self, op: Op, what: str, problem: str | None) -> None:
        if problem is not None and op.ok:
            op.ok = False
            self.fail(f"{op.kind}: wrong answer for {what}: {problem}")

    # -- result ------------------------------------------------------------------
    def result(self, db) -> dict:
        failed = sum(not o.ok for o in self.ops)
        out = {
            "correct": failed == 0 and not self.failures,
            "attempted": len(self.ops),
            "failed": failed,
        }
        if self.trace:
            metrics = self.layer_metrics(db)
        else:
            metrics = self.end_to_end()
        out["metrics"] = metrics
        return out

    def end_to_end(self) -> dict:
        ok = [o for o in self.ops if o.ok]
        ref = _median(self.reference_s)
        return {
            "setup_s": _m(statistics.median(self.setup["setup_s"]), "s"),
            "op_latency_rel": _m(
                typical_latency(ok, equal=self.equal_class_weights) / ref
                if ref else 0.0, "ratio"),
        }

    def layer_metrics(self, db) -> dict:
        layer = self.tracer.self_times()
        traced = [o for o in self.ops if o.traced]
        n = len(traced)
        op_total = sum(o.seconds for o in traced)

        def per_op_ms(name):
            return 1e3 * layer.get(name, 0.0) / n

        covered = sum(v for k, v in layer.items() if k != "op")
        hit_rate, entries = _cache_stats(db)
        lat = [o.seconds for o in self.ops if o.ok]
        m = {k: _m(statistics.median(v), "s") for k, v in self.setup.items()
             if k != "setup_s"}
        ok = [o for o in self.ops if o.ok]
        m.update({
            "op.latency_ms": _m(1e3 * typical_latency(
                ok, equal=self.equal_class_weights), "ms"),
            "op.cpu_ms": _m(1e3 * typical_latency(
                ok, "cpu", equal=self.equal_class_weights), "ms"),
            "op.ops_per_s": _m(len(lat) / sum(lat) if lat else 0.0, "1/s"),
            "op.p90_ms": _m(1e3 * _pct(lat, 90), "ms"),
            "reference.query_ms": _m(1e3 * _median(self.reference_s), "ms"),
            "gql.parse_ms": _m(per_op_ms("gql.parser"), "ms"),
            "gql.compile_ms": _m(per_op_ms("gql.compiler"), "ms"),
            "gql.compile_share": _m(layer.get("gql.compiler", 0.0) / op_total,
                                    "ratio"),
            "engine.self_ms": _m(per_op_ms("engine"), "ms"),
            "engine.plan_cache_hit_ratio": _m(hit_rate, "ratio"),
            "engine.plan_cache_entries": _m(entries, "count"),
            "catalyst.plan_ms": _m(per_op_ms("catalyst"), "ms"),
            "spark.exec_ms": _m(per_op_ms("spark.exec"), "ms"),
            "spark.jobs_per_op": _m(_mean(o.jobs[0] for o in traced), "count"),
            "spark.stages_per_op": _m(_mean(o.jobs[1] for o in traced), "count"),
            "spark.tasks_per_op": _m(_mean(o.jobs[2] for o in traced), "count"),
            "trace.overhead_ratio": _m(self.overhead_ratio(), "ratio"),
            "trace.layer_coverage": _m(covered / op_total, "ratio"),
        })
        m.update(self.dml_metrics())
        calls = [o for o in traced if o.kind == "shortest_path_pair"]
        m.update({
            "paths.shortest_path_pair_s": _m(_median(
                [o.seconds for o in self.ops
                 if o.kind == "shortest_path_pair" and o.ok]), "s"),
            "paths.self_ms_per_call": _m(
                1e3 * layer.get("operators.paths", 0.0) / max(len(calls), 1), "ms"),
            "paths.jobs_per_call": _m(_mean(o.jobs[0] for o in calls), "count"),
        })
        m.update(self.mem_metrics())
        self.write_spans()
        return m

    def overhead_ratio(self) -> float:
        """Traced over untraced end-to-end time: for each operation class
        that ran both ways, its median latency traced and untraced,
        summed over the classes."""
        traced, plain = 0.0, 0.0
        for klass in self.turns:
            t = [o.seconds for o in self.ops if o.klass == klass and o.ok
                 and o.traced]
            u = [o.seconds for o in self.ops if o.klass == klass and o.ok
                 and not o.traced]
            if t and u:
                traced += statistics.median(t)
                plain += statistics.median(u)
        return traced / plain if plain else 0.0

    def dml_metrics(self) -> dict:
        fn = self.tracer.fn_times("dml")
        # latency figures over every write, traced or not
        writes = [o for o in self.ops if "write" in o.parts and o.ok]
        # growth with the write history: for each kind, its write latency
        # at its last run over that at its first, in run order
        ratios = []
        for kind in {o.kind for o in writes}:
            mine = [o.parts["write"] for o in writes if o.kind == kind]
            if len(mine) > 1:
                ratios.append(mine[-1] / mine[0])
        w = [o.parts["write"] for o in writes]
        raw = [o.parts["read"] for o in writes]
        return {
            "dml.insert_ms": _m(1e3 * _mean(fn.get("execute_insert", [])), "ms"),
            "dml.mutate_ms": _m(1e3 * _mean(fn.get("execute_mutate", [])), "ms"),
            "dml.jobs_per_write": _m(
                _mean(o.write_jobs for o in writes if o.traced), "count"),
            "dml.table_partitions": _m(self.table_partitions, "count"),
            "dml.growth_ratio": _m(_median(ratios), "ratio"),
            "write_mix.write_p50_ms": _m(1e3 * _pct(w, 50), "ms"),
            "write_mix.write_p90_ms": _m(1e3 * _pct(w, 90), "ms"),
            "write_mix.read_after_write_p50_ms": _m(1e3 * _pct(raw, 50), "ms"),
        }

    def mem_metrics(self) -> dict:
        py = _rss_mb(os.getpid())
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        return {"mem.python_rss_mb": _m(py, "MB"),
                "mem.jvm_rss_mb": _m(_rss_mb(jvm_pid), "MB")}

    def write_spans(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        self.tracer.dump(os.path.join(
            self.out_dir, f"spans-{self.workload}-s{self.seed}.jsonl"))


# -- helpers -------------------------------------------------------------------

def typical_latency(ops, field: str = "seconds", equal: bool = False) -> float:
    """Seconds of a typical operation: each operation class's median
    latency, averaged with the class's share of the operations (or, if
    ``equal``, the same weight) as its weight. A plain median of a mix of
    classes sits in the gap between two of them and jumps from run to
    run; the class medians do not."""
    by_class: dict = {}
    for o in ops:
        by_class.setdefault(o.klass, []).append(getattr(o, field))
    if not by_class:
        return 0.0
    w = {k: 1 if equal else len(v) for k, v in by_class.items()}
    return sum(w[k] * statistics.median(v)
               for k, v in by_class.items()) / sum(w.values())


def _m(value: float, unit: str) -> dict:
    """One metric; a value that could not be measured (no successful
    operation of its kind) reads 0 rather than NaN, which is not JSON."""
    value = float(value)
    return {"value": value if math.isfinite(value) else 0.0, "unit": unit}


def _pct(xs, q) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cache_stats(db) -> tuple[float, float]:
    """(hit rate, entries) of the plan cache from CALL gql.cache_stats()."""
    for r in db.execute("CALL gql.cache_stats()").collect():
        if r["cache_type"] == "plan_cache":
            return float(r["hit_rate"]), float(r["entries"])
    return 0.0, 0.0
