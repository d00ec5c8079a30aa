"""Run one ushas_spark benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

One process is one closed-loop client that runs the workload's operations
back to back on ``local[<cores>]``. It writes the seeded inputs, then starts
the session, loads the registry and runs an untimed warm pass that checks
every output; that is set-up. It then times whole passes over the operations.
With ``--trace 1`` it times one untraced and one traced pass and reports the
per-layer metrics instead. Every metric is printed as ``name value unit``;
the last line of standard output is one JSON object. Everything the run
writes stays under ``.perfbench_work/`` in the checkout. See
perfbench/README.md for the workloads and the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Driver heap: this share of physical memory, capped. The inputs are 17 MB
# of parquet and fit in Spark storage memory either way.
DRIVER_MEM_SHARE = 0.3
DRIVER_MEM_CAP_MB = 2048
# Logs the benign "No Partition Defined for Window operation" warnings.
WINDOW_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, in the
    order BENCHMARK.json lists them; the run reports exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return min(DRIVER_MEM_CAP_MB, int(total_kb / 1024 * DRIVER_MEM_SHARE))


def tree_cpu_s() -> float:
    """CPU seconds of this process and its live descendants (the JVM and
    its Python workers), each including the children it has reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed /proc
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # u/s/cu/cs time
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != me and p in parent and p > 1:
            p = parent[p]
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def release(spark) -> None:
    """Drop cached and checkpointed blocks so every op starts clean."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


class Bench:
    """One workload run: session, operations, samples and failures."""

    def __init__(self, workload: str, seed: int, tracer: tracing.Tracer | None) -> None:
        self.workload = workload
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.names = list(workloads.WORKLOADS[workload])
        self.fails = stats.FailCount()
        self.edges: dict[str, list] = {}
        self.blind: dict[str, tuple[int, int]] = {}
        self.layer: dict[str, float] = defaultdict(float)
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        import importlib

        from ushas_spark import durability, io, registry, session

        # The package module: ``ushas_spark.lineage`` as an attribute is the
        # re-exported function, not the package.
        lineage_mod = importlib.import_module("ushas_spark.lineage")
        from tests import oracle_harness

        if self.tracer is not None:
            # Before load_all(): operator modules bind these names on import.
            t = self.tracer
            t.wrap(session, "get_spark", "session.start")
            t.wrap(registry, "load_all", "registry.load_all")
            t.wrap(durability, "materialize", "durability.materialize")
            t.wrap(durability, "pin_partitioned", "durability.pin")
            t.wrap(io, "load_table", "io.load_table")
            t.wrap(lineage_mod, "lineage", "lineage.extract")
        self.registry = registry
        self.lineage_mod = lineage_mod
        self.oracle = oracle_harness

        parts = self.setup_parts = {}
        t0 = time.perf_counter()
        self.sf_dir = inputs.generate(os.path.join(WORK, "data"), self.seed)
        parts["setup.inputs_s"] = time.perf_counter() - t0
        self.spark = session.get_spark(
            "perfbench",
            cpus=cores(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK}/tmp",
            },
        )
        jvm = self.spark._jvm
        log4j = jvm.org.apache.logging.log4j
        log4j.core.config.Configurator.setLevel(WINDOW_LOGGER, log4j.Level.ERROR)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        t1 = time.perf_counter()
        parts["setup.session_s"] = t1 - t0 - parts["setup.inputs_s"]
        registry.load_all()
        missing = [n for n in self.names if n not in registry.QUERIES]
        if missing:
            raise SystemExit(f"perfbench: {self.workload} names unknown queries {missing}")
        t2 = time.perf_counter()
        parts["setup.load_all_s"] = t2 - t1
        for name in self._order():
            w = time.perf_counter()
            self._warm(name)
            parts[f"setup.warm.{name}_s"] = time.perf_counter() - w
        parts["setup.warm_pass_s"] = time.perf_counter() - t2

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- operations ---------------------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def _build(self, name: str):
        with self._span("registry.build"):
            return self.registry.QUERIES[name](self.spark, self.sf_dir)

    def _lineage(self, name: str, df) -> None:
        """One lineage(df) call, checked against the warm pass's edges."""
        graph = self.lineage_mod.lineage(df)
        if len(graph) != len(df.columns):
            raise AssertionError(f"lineage has {len(graph)} columns for {len(df.columns)}")
        edges = graph.edges()
        if name not in self.edges:
            self.edges[name] = edges
            self.blind[name] = (stats.blind_columns(graph), len(graph))
        elif edges != self.edges[name]:
            raise AssertionError("lineage edges differ from the warm pass")

    def _warm(self, name: str) -> None:
        """Untimed: build the op, check its lineage, then collect its result
        and compare it with the DuckDB oracle on the same files."""
        try:
            df = self._build(name)
            self._lineage(name, df)
            problems = self.oracle.run_pair(
                self.spark, self.sf_dir, lambda s, d: df, self.registry.ORACLE[name]
            )
            self.fails.record(name, "; ".join(problems) or None)
        except Exception:  # counted; the run reports it and goes on
            self.fails.record(name, traceback.format_exc(limit=3))
        finally:
            release(self.spark)

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def _group(self, op: str, phase: str) -> None:
        if self.tracer is not None and self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(f"{op}/{phase}", phase, False)

    def timed_pass(self, tag: str) -> dict:
        """One pass over every op: wall, CPU, op and lineage latencies."""
        traced = self.tracer is not None and self.tracer.enabled
        ops: dict[str, float] = {}
        lin: list[float] = []
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        for name in self._order():
            op = f"{tag}:{name}"
            if self.tracer is not None:
                self.tracer.op = op
            try:
                a = time.perf_counter()
                self._group(op, "build")
                df = self._build(name)
                self._group(op, "exec")
                with self._span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                ops[name] = time.perf_counter() - a
                for _ in range(workloads.LINEAGE_CALLS_PER_OP):
                    c = time.perf_counter()
                    self._lineage(name, df)
                    lin.append(time.perf_counter() - c)
                if traced:
                    self._collect(op, df)
                self.fails.record(name, None)
            except Exception:  # counted; the pass goes on
                self.fails.record(name, traceback.format_exc(limit=3))
            finally:
                release(self.spark)
        wall = time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.op = None
        return {"wall": wall, "cpu": tree_cpu_s() - cpu0, "ops": ops, "lineage": lin}

    def _collect(self, op: str, df) -> None:
        """Traced run only: Spark counters and planning phases of one op."""
        self.spark.sparkContext.setJobGroup("perfbench/trace", "untimed", False)
        for phase, prefix in (("build", "registry.build_"), ("exec", "exec.")):
            for k, v in tracing.group_counters(self.spark, f"{op}/{phase}").items():
                if k == "task_skew":
                    self.layer[prefix + k] = max(self.layer.get(prefix + k, 1.0), v)
                else:
                    self.layer[prefix + k] += v
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # plan the query's own execution (the noop write planned a copy)
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                self.layer[f"plan.{phase}_ms"] += summary.get().durationMs()

    # -- reports ------------------------------------------------------------

    def passes(self, seconds: int) -> list[dict]:
        """The timed passes of an untraced run: a fixed count, so every run
        of a workload takes the same number of samples."""
        n = max(1, math.ceil(seconds / workloads.PASS_BUDGET_S[self.workload]))
        return [self.timed_pass(f"p{i}") for i in range(n)]

    def blind_ratio(self) -> float:
        blind = sum(b for b, _ in self.blind.values())
        cols = sum(c for _, c in self.blind.values())
        return blind / cols if cols else 0.0

    def end_to_end(self, setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
        per_op = defaultdict(list)
        for p in passes:
            for name, x in p["ops"].items():
                per_op[name].append(x)
        ops = [x for xs in per_op.values() for x in xs]
        lin = [x for p in passes for x in p["lineage"]]
        op_tail, op_pct, op_beyond = stats.tail(ops)
        lin_tail, lin_pct, lin_beyond = stats.tail(lin)
        metrics = {
            "setup_s": setup_s,
            "suite_s": statistics.median([p["wall"] for p in passes]),
            "op_p50_s": stats.median_of_medians(per_op),
            "op_tail_s": op_tail,
            "lineage_p50_ms": statistics.median(lin) * 1e3,
            "lineage_tail_ms": lin_tail * 1e3,
            # Mean per pass: one CPU reading spans all passes, so the
            # 10 ms tick granularity of /proc counts once, not per pass.
            "cpu_s": sum(p["cpu"] for p in passes) / len(passes),
        }
        info = {
            "passes": len(passes),
            "op_samples": len(ops),
            "op_tail_percentile": op_pct,
            "op_tail_beyond": op_beyond,
            "lineage_samples": len(lin),
            "lineage_tail_percentile": lin_pct,
            "lineage_tail_beyond": lin_beyond,
            "peak_rss_mb": vm_hwm_mb(self.jvm_pid),
        }
        return metrics, info

    def per_layer(self, base: dict, traced: dict) -> dict:
        ops = {f"traced:{n}" for n in self.names}
        t = self.tracer
        setup_d = t.durations()
        d = t.durations(ops)
        n_cores = cores()
        m = dict(self.layer)
        m["session.start_s"] = sum(setup_d["session.start"])
        m["registry.load_all_s"] = sum(setup_d["registry.load_all"])
        m["registry.build_s"] = sum(d["registry.build"])
        m["durability.materialize_calls"] = len(d["durability.materialize"])
        m["durability.materialize_s"] = sum(d["durability.materialize"])
        m["durability.pin_calls"] = len(d["durability.pin"])
        m["durability.pin_s"] = sum(d["durability.pin"])
        m["registry.build_self_s"] = (
            m["registry.build_s"] - m["durability.materialize_s"] - m["durability.pin_s"]
        )
        m["io.load_table_calls"] = len(d["io.load_table"])
        m["io.load_table_s"] = sum(d["io.load_table"])
        m["exec.s"] = sum(d["exec"])
        m["registry.build_slot_idle_s"] = (
            m["registry.build_s"] * n_cores - m.get("registry.build_executor_run_s", 0.0)
        )
        m["exec.slot_idle_s"] = m["exec.s"] * n_cores - m.get("exec.executor_run_s", 0.0)
        m["lineage.calls"] = len(d["lineage.extract"])
        m["lineage.extract_ms"] = sum(d["lineage.extract"]) * 1e3
        m["lineage.edges"] = sum(len(self.edges[n]) for n in self.names if n in self.edges)
        m["lineage.blind_cols"] = sum(self.blind[n][0] for n in self.names if n in self.blind)
        m["lineage_blind_ratio"] = self.blind_ratio()
        m["fail_ratio"] = self.fails.ratio
        m["trace.overhead_ratio"] = traced["wall"] / base["wall"]
        m["peak_rss_mb"] = vm_hwm_mb(self.jvm_pid)
        return {
            name: (float(m.get(name, 1.0 if name.endswith("task_skew") else 0.0)), unit)
            for name, unit in metric_units("per_layer").items()
        }


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds < 1:
        ap.error("--seed must be >= 0 and --seconds >= 1")
    return args


def prepare_environment() -> None:
    """Keep every file Spark, the workers and the warehouse write in WORK."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["USHAS_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["USHAS_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.chdir(ROOT)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ushas_spark  # noqa: F401
        from tests import oracle_harness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is missing: {e}", file=sys.stderr)
        return 2
    prepare_environment()
    tracer = tracing.Tracer() if args.trace else None
    bench = Bench(args.workload, args.seed, tracer)
    try:
        bench.setup()
        # Ready, less the harness's own input writing.
        setup_s = time.perf_counter() - T_START - bench.setup_parts["setup.inputs_s"]
        if tracer is None:
            metrics, info = bench.end_to_end(setup_s, bench.passes(args.seconds))
            report = {k: (metrics[k], u) for k, u in metric_units("end_to_end").items()}
        else:
            tracer.enabled = False
            base = bench.timed_pass("untraced")
            tracer.enabled = True
            traced = bench.timed_pass("traced")
            report = bench.per_layer(base, traced)
            info = {
                "untraced_suite_s": base["wall"],
                "registry.build_share": report["registry.build_s"][0] / base["wall"],
                "exec.share": report["exec.s"][0] / base["wall"],
                "lineage.extract_share": report["lineage.extract_ms"][0] / 1e3 / base["wall"],
            }
            tracer.dump(
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "layers": report,
                    "self_s": tracer.self_times({f"traced:{n}" for n in bench.names}),
                },
            )
    finally:
        bench.stop()
    info.update(bench.setup_parts)
    info.update(
        workload=args.workload,
        seed=args.seed,
        cores=cores(),
        driver_mem=os.environ["USHAS_DRIVER_MEM"],
        fail_ratio=bench.fails.ratio,
        lineage_blind_ratio=bench.blind_ratio(),
        failed_ops=sorted(bench.fails.failed),
    )
    for k, v in info.items():
        print(f"# {k} {v}")
    for name, problem in sorted(bench.fails.failed.items()):
        print(f"# failure {name}: {problem.strip().splitlines()[-1][:300]}")
    for name, (value, unit) in report.items():
        print(f"{name} {value!r} {unit}")
    print(
        json.dumps(
            {
                "correct": bench.fails.n_failed == 0,
                "attempted": bench.fails.attempted,
                "failed": bench.fails.n_failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
