"""Layered, oracle-checked benchmark of ytsaurus_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload driver_rw --seed 1 --seconds 16 --trace 0

One run is one process with one client in a closed loop on
``local[<nproc>]``: the next query starts only after the previous one ends.

1. Generate the workload's fixture from ``--seed`` (``fixture.py``) and
   compute every query's DuckDB oracle result. Neither is timed.
2. Start the session, then run a warm-up pass: every query once, its result
   collected and compared strictly with the oracle.
3. Run a fixed number of whole timed passes: as many as take ``--seconds``
   on the reference host (``Workload.passes``), the query order shuffled by
   the seed in every pass. Each execution has three phases,
   each under its own Spark job group:
   build (``fn(spark, sf_dir)``), plan (``executedPlan()``) and execute
   (a ``noop`` write, which computes every output column and ships no rows).

Timings are wall time scaled by ``1 - host.steal_share`` of their interval:
the share of CPU time the hypervisor gave to other guests (``host.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that also wraps engine layers in spans (``trace.py``) and enables the
Spark event log (``eventlog.py``), and reports per-layer metrics instead.
Every run prints a fingerprint of the host and inputs, the metrics by name
with their units, and, as the last line, one JSON result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import eventlog, host, stats, trace  # noqa: E402

CPU0 = host.cpu_times()  # the set-up interval's steal share is taken from here
from perfbench.fixture import TABLES, write_fixture  # noqa: E402
from perfbench.trace import LAYERS, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "4g"
PHASES = (("build", "queries.build"), ("plan", "catalyst.plan"), ("exec", "exec.action"))


class Run:
    def __init__(self, workload, seed: int, seconds: float, traced: bool) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if traced else None
        self.root = os.path.join(REPO, ".perfbench")
        self.work = os.path.join(self.root, "work", f"{workload.name}-{seed}-{os.getpid()}")
        self.sf_dir = os.path.join(self.work, "fixture")
        self.excluded_s = 0.0  # harness time inside the set-up interval
        self.excluded_cpu = (0.0, 0.0)  # the machine's busy and stolen CPU seconds in it
        self.phases: list[tuple[str, str, float, float]] = []
        self.attempted = 0
        self.errors: list[str] = []
        self.exec_names: dict[str, str] = {}
        self.spark = None
        self.timeline: dict[str, float] = {}  # where the run's wall time went

    # -- set-up ---------------------------------------------------------
    def _environment(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # Python workers must import the engine wherever the run starts
        paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["SPARK_GRAFT_CPUS"] = str(host.cpu_count())
        # shuffle and spill files stay inside the checkout, and neither the
        # launcher nor the driver JVM writes its perf-counter file to /tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def _confs(self) -> dict[str, str]:
        confs = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return confs

    @contextlib.contextmanager
    def _excluded(self):
        t, cpu = time.perf_counter(), host.cpu_times()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t
            after = host.cpu_times()
            self.excluded_cpu = tuple(x + b - a for x, a, b in zip(self.excluded_cpu, cpu, after))

    def prepare(self) -> None:
        self._environment()
        with self._excluded():
            self.calib_before = host.calibrate()
            t = time.perf_counter()
            self.fixture_sha = write_fixture(self.sf_dir, self.seed, self.wl.sf)
            self.timeline["fixture_s"] = time.perf_counter() - t
        if self.tracer:
            self.tracer.install()
        # these import the query modules, which then bind the wrappers
        from perfbench.oracle import oracle_results
        from ytsaurus_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        with self._excluded():
            t = time.perf_counter()
            oracles = all_oracles()
            self.expected = oracle_results(
                self.sf_dir, {n: oracles[n] for n in self.wl.queries}, TABLES
            )
            self.timeline["oracle_s"] = time.perf_counter() - t
        host.reset_hwm()

    def start_session(self) -> None:
        from ytsaurus_spark.session import get_spark

        t = time.perf_counter()
        with self._span("session.start"):
            self.spark = get_spark("perfbench", extra_confs=self._confs())
        self.session_s = self.timeline["session_s"] = time.perf_counter() - t

    def _span(self, name: str, phase: bool = False):
        return self.tracer.span(name, phase) if self.tracer else contextlib.nullcontext()

    # -- one execution --------------------------------------------------
    def execute(self, name: str, exec_id: str, check: bool) -> float | None:
        """Run one query; return its latency, or None when it failed."""
        sc = self.spark.sparkContext
        self.attempted += 1
        self.exec_names[exec_id] = name
        if self.tracer:
            self.tracer.exec_id = exec_id
        latency = 0.0
        try:
            df = None
            for phase, span in PHASES:
                sc.setJobGroup(eventlog.group_id(exec_id, phase), f"{name} {phase}")
                wall, t = time.time(), time.perf_counter()
                with self._span(span, phase=True):
                    if phase == "build":
                        df = self.queries[name](self.spark, self.sf_dir)
                    elif phase == "plan":
                        df._jdf.queryExecution().executedPlan()
                    elif check:
                        rows = df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                latency += time.perf_counter() - t
                self.phases.append((exec_id, phase, wall, time.time()))
        except Exception:  # recorded and counted; the loop goes on
            self._fail(name, exec_id, traceback.format_exc())
            return None
        finally:
            if self.tracer:
                self.tracer.exec_id = None
        if check:
            from perfbench.oracle import mismatch

            with self._excluded():
                cols, oracle_rows = self.expected[name]
                why = mismatch(df.columns, rows, cols, oracle_rows)
            if why:
                self._fail(name, exec_id, why)
                return None
        return latency

    def _fail(self, name: str, exec_id: str, why: str) -> None:
        self.errors.append(f"{exec_id} {name}: {why}")
        print(f"FAILED {exec_id} {name}: {why}", file=sys.stderr, flush=True)

    # -- the run ----------------------------------------------------------
    def measure(self) -> None:
        rng = random.Random(self.seed)
        names = list(self.wl.queries)
        rng.shuffle(names)
        t = time.perf_counter()
        self.warm = {name: self.execute(name, f"0.{i}", check=True) for i, name in enumerate(names)}
        self.timeline["warm_s"] = time.perf_counter() - t
        self.setup_wall = time.perf_counter() - T0 - self.excluded_s
        # the steal share of the included intervals only: the CPU time of
        # fixture generation, the oracle and the comparisons is taken out
        now = host.cpu_times()
        self.setup_steal = host.steal_share(
            CPU0, tuple(n - x for n, x in zip(now, self.excluded_cpu))
        )

        # pass walls stay raw; latencies are scaled by (1 - steal share) of their pass
        self.latencies: dict[str, list[float]] = defaultdict(list)
        self.pass_walls: list[float] = []
        self.pass_steal: list[float] = []
        start, cpu_start = time.perf_counter(), host.cpu_times()
        for _ in range(self.wl.passes(self.seconds)):
            rng.shuffle(names)
            p = len(self.pass_walls) + 1
            t, cpu = time.perf_counter(), host.cpu_times()
            lats = {name: self.execute(name, f"{p}.{i}", check=False) for i, name in enumerate(names)}
            self.pass_walls.append(time.perf_counter() - t)
            self.pass_steal.append(host.steal_share(cpu, host.cpu_times()))
            for name, lat in lats.items():
                if lat is not None:
                    self.latencies[name].append(lat * (1 - self.pass_steal[-1]))
        self.timeline["timed_s"] = time.perf_counter() - start
        self.timed_busy_s = host.cpu_times()[0] - cpu_start[0]

        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.peak_rss_mb = (host.vm_hwm_kb(jvm_pid) + host.vm_hwm_kb()) / 1024
        self.fingerprint = self._fingerprint()

    def _fingerprint(self) -> dict:
        import pyarrow
        import pyspark

        sc = self.spark.sparkContext
        return {
            "workload": self.wl.name,
            "seed": self.seed,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "nproc": host.cpu_count(),
            "driver_memory": DRIVER_MEMORY,
            "loadavg": list(os.getloadavg()),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "fixture": {"sf": self.wl.sf, "sha256": self.fixture_sha},
        }

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # -- results ----------------------------------------------------------
    def pass_s(self) -> float:
        return stats.median([w * (1 - s) for w, s in zip(self.pass_walls, self.pass_steal)])

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        per_query = [stats.median(v) for v in self.latencies.values()]
        return {
            "setup_s": (self.setup_wall * (1 - self.setup_steal), "s"),
            "pass_s": (self.pass_s(), "s"),
            "latency_geomean_s": (stats.geomean(per_query), "s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        passes = len(self.pass_walls)
        out: dict[str, tuple[float, str]] = {
            "host.calib_s": ((self.calib_before + self.calib_after) / 2, "s"),
            "host.steal_share": (stats.median(self.pass_steal), "ratio"),
            "host.busy_cpu_s": (self.timed_busy_s / passes, "s"),
            "trace.pass_s": (self.pass_s(), "s"),
            "session.start_s": (self.session_s, "s"),
            "driver.peak_rss_mb": (self.peak_rss_mb, "MB"),
        }
        timed = [p for p in self.phases if not p[0].startswith("0.")]
        for phase, layer in PHASES:
            walls = [hi - lo for _, ph, lo, hi in timed if ph == phase]
            out[f"{layer}_s"] = (sum(walls) / passes, "s")
            out[f"{layer}.calls"] = (len(walls) / passes, "count")
        totals = trace.layer_totals(
            self.tracer.spans, lambda s: s.exec_id is not None and not s.exec_id.startswith("0.")
        )
        # a layer's self time as a share of the timed passes' raw wall time:
        # a layer that a workload never calls reads 0 there
        timed_wall = sum(self.pass_walls)
        for layer in LAYERS:
            total, calls = totals.get(layer, (0.0, 0))
            out[f"{layer}.share"] = (total / timed_wall, "ratio")
            out[f"{layer}.calls"] = (calls / passes, "count")
        out["queries.build_self_s"] = (totals.get("queries.build", (0.0, 0))[0] / passes, "s")
        out.update(self._task_metrics(passes, out["exec.action_s"][0]))
        return out

    def _task_metrics(self, passes: int, action_s: float) -> dict[str, tuple[float, str]]:
        log_dir = os.path.join(self.work, "eventlog")
        (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        timed = [p for p in self.phases if not p[0].startswith("0.")]
        counters = eventlog.attribute(eventlog.read_events(log_file), timed)
        build, exe = eventlog.PhaseCounters(), eventlog.PhaseCounters()
        tasks = failed = 0
        for (_, phase), c in counters.items():
            tasks += c.tasks
            failed += c.failed_tasks
            agg = build if phase == "build" else exe if phase == "exec" else None
            if agg is None:
                continue
            agg.jobs += c.jobs
            agg.stages |= c.stages
            for f in ("tasks", "cpu_s", "run_s", "gc_s", "python_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                setattr(agg, f, getattr(agg, f) + getattr(c, f))
        cores = host.cpu_count()
        self.query_jobs = counters
        return {
            "queries.build_jobs": (build.jobs / passes, "count"),
            "queries.build_stages": (len(build.stages) / passes, "count"),
            "exec.jobs": (exe.jobs / passes, "count"),
            "exec.stages": (len(exe.stages) / passes, "count"),
            "exec.tasks": (exe.tasks / passes, "count"),
            "exec.executor_cpu_s": (exe.cpu_s / passes, "s"),
            "exec.core_busy_ratio": (exe.cpu_s / passes / (action_s * cores), "ratio"),
            "exec.input_bytes": (exe.input_bytes / passes, "B"),
            "exec.shuffle_read_bytes": (exe.shuffle_read_bytes / passes, "B"),
            "exec.shuffle_write_bytes": (exe.shuffle_write_bytes / passes, "B"),
            "exec.spill_bytes": (exe.spill_bytes / passes, "B"),
            "exec.gc_share": (exe.gc_s / exe.run_s if exe.run_s else 0.0, "ratio"),
            "exec.python_busy_ratio": (exe.python_s / passes / (action_s * cores), "ratio"),
            "exec.failed_task_ratio": (failed / max(tasks, 1), "ratio"),
        }

    def query_table(self) -> dict[str, dict[str, float]]:
        """Per-query medians of the timed executions: phase seconds and jobs."""
        per = defaultdict(lambda: defaultdict(list))
        for exec_id, phase, lo, hi in self.phases:
            if exec_id.startswith("0."):
                continue
            c = self.query_jobs.get((exec_id, phase))
            q = per[self.exec_names[exec_id]]
            q[f"{phase}_s"].append(hi - lo)
            q[f"{phase}_jobs"].append(c.jobs if c else 0)
        return {n: {k: stats.median(v) for k, v in q.items()} for n, q in per.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        run.prepare()
        run.start_session()
        run.measure()
        run.stop()
        run.calib_after = host.calibrate()
        metrics = run.per_layer() if run.tracer else run.end_to_end()
        if run.tracer:
            os.makedirs(os.path.join(run.root, "traces"), exist_ok=True)
            base = os.path.join(run.root, "traces", f"{args.workload}-{args.seed}")
            run.tracer.write_jsonl(base + ".spans.jsonl")
            table = run.query_table()
            with open(base + ".queries.json", "w") as f:
                json.dump(table, f, indent=1)
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)

    run.timeline["total_s"] = time.perf_counter() - T0
    fp = dict(run.fingerprint, calib_before_s=run.calib_before,
              calib_after_s=run.calib_after, timeline=run.timeline)
    print(json.dumps({"fingerprint": fp}))
    samples = [x for v in run.latencies.values() for x in v]
    failed = len(run.errors)
    for q in (0.5, 0.75):
        if samples:
            print(f"latency_p{round(q * 100)}_s {stats.percentile(samples, q):.6g} s (not gated: "
                  f"{len(samples)} samples in {len(run.pass_walls)} passes, "
                  f"{stats.beyond(len(samples), q)} beyond it)")
    print(f"error_rate {failed / run.attempted:.4f} ({failed} of {run.attempted} executions)")
    print(f"raw wall (steal share): setup {run.setup_wall:.3f} s ({run.setup_steal:.3f}), "
          "passes " + " ".join(f"{w:.3f} s ({s:.3f})" for w, s in zip(run.pass_walls, run.pass_steal)))
    for name, lat in sorted(run.warm.items()):
        print(f"warm-up {name}: " + ("failed" if lat is None else f"{lat:.3f}"))
    for name, lats in sorted(run.latencies.items()):
        print(f"latency {name}: " + " ".join(f"{x:.3f}" for x in lats))
    if run.tracer:
        for name, row in sorted(table.items()):
            print(f"query {name} " + " ".join(f"{k}={v:.4g}" for k, v in sorted(row.items())))
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
