"""Benchmark of the engine's pipelines: set-up, warm-up, measured passes.

Usage (from the repository root):

    python3 perfbench/run.py --workload sensor_pipelines --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: the workload's pipelines (in an order
drawn from ``--seed``) run back to back on ``local[<cores>]``, each written
to a parquet sink, and every output is checked against its reference
(``oracle.py``) outside the timed region. The input tables are the sf0.01
test tables, kept in ``perfbench/data``.

A run sets the session up once, cold, as a user's process does (engine
import, JVM launch, view registration, input staging), makes
``WARMUP_PASSES`` untimed warm-up passes, then repeats measured passes until
``--seconds`` have elapsed and at least ``MIN_PASSES`` have run.

``--trace 0`` prints the end-to-end metrics: ``wall_s`` (median pass time,
first pipeline call to last sink completion), ``setup_s`` (set-up +
warm-up passes) and ``peak_rss_mb`` (driver process tree, Python + JVM +
Python workers, from set-up to the last measured pass). ``--trace 1`` adds
one traced pass after the measured ones and prints the per-layer metrics.
``BENCHMARK.json`` names every metric with its unit; README.md explains
them. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"  # the seed-42 sf0.01 test tables
SF = 0.01
WARMUP_PASSES = 2  # the second pass is still ~15 % slower than the fourth
MIN_PASSES = 3  # the median of three passes is not moved by one slow pass
LIFETIME_PASS = WARMUP_PASSES  # lifetime counts reported: after the first measured pass
RSS_INTERVAL_S = 0.5


def metric_units(key: str) -> dict[str, str]:
    """The metrics ``BENCHMARK.json`` lists under ``key``, with their units."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[key]}


# -- process-tree memory -------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def tree_rss(pid: int) -> dict[str, float]:
    """Proportional resident MB (PSS) of ``pid`` and its descendants, summed
    by command name. PSS splits shared pages among their users, so a child
    forked from the JVM and not yet exec'd does not count the JVM twice."""
    out: dict[str, float] = {}
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            with open(f"/proc/{p}/comm") as f:
                name = f.read().strip()
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + pss_kb / 1024
    return out


class RssSampler:
    """Peak resident memory of this process tree, sampled every
    ``RSS_INTERVAL_S``. One sample reads the JVM's page-table summary and
    costs about 40 ms of a core, so sampling every 0.1 s slowed and
    perturbed the measured passes."""

    def __init__(self) -> None:
        self.peak = 0.0
        self.peak_by_command: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by_command = tree_rss(os.getpid())
        total = sum(by_command.values())
        if total > self.peak:
            self.peak, self.peak_by_command = total, by_command

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


# -- one run -------------------------------------------------------------------
class Bench:
    def __init__(self, workload, seed: int, seconds: int, trace: bool, work: Path) -> None:
        self.wl, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.data = str(DATA)
        self.out = work / "out"
        self.order = random.Random(seed).sample(workload.pipelines, len(workload.pipelines))
        self.attempted = self.errors = self.wrong = 0
        self.failures: list[str] = []
        self.lifetime: list[tuple[int, int]] = []
        self.pipeline_s: list[dict[str, float]] = []  # per pass
        self.tracer = None
        self.tracing = False  # spans are recorded only while wrappers are installed

    def conf(self) -> dict[str, str]:
        tmp = self.work / "tmp"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            logs = self.work / "eventlog"
            logs.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logs.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracing else nullcontext()

    def bring_up(self):
        import sensordatapipelines_spark.session as session

        spark = session.get_spark(app_name="perfbench", extra_conf=self.conf())
        spark.sparkContext.setLogLevel("ERROR")
        self.entry._register_views(spark, self.data)
        for stage in self.wl.stages:
            getattr(self.entry, stage)(spark, self.data)
        return spark

    def trace_on(self, run: str) -> None:
        self.tracer.run = run
        self.tracer.install(extra={"_register_views": ("tables.register", "tables")})
        self.tracing = True

    def trace_off(self) -> None:
        self.tracer.uninstall()
        self.tracing = False

    def set_up(self):
        """Launch the JVM and bring the session up, once."""
        if self.tracer:
            self.trace_on("setup")
        try:
            with self.span("setup", "setup"):
                return self.bring_up()
        finally:
            if self.tracer:
                self.trace_off()

    def run_pass(self, spark) -> float:
        queries = self.entry.queries()
        done: list[tuple[str, str | None]] = []
        times = {}
        t0 = time.perf_counter()
        with self.span("pass", "pass"):
            for name in self.order:
                t = time.perf_counter()
                try:
                    with self.span(name, "query"):
                        df = queries[name](spark, self.data)
                    with self.span(name, "sink"):
                        df.write.mode("overwrite").parquet(str(self.out / name))
                    done.append((name, None))
                except Exception as exc:  # a failing pipeline stays counted
                    done.append((name, f"{type(exc).__name__}: {exc}"[:300]))
                times[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        self.pipeline_s.append(times)
        self.lifetime.append(lifetime_counts(spark))
        for name, err in done:
            self.attempted += 1
            if err is not None:
                self.errors += 1
                self.failures.append(f"{name}: {err}")
                continue
            reason = self.oracle.check(name, pq.read_table(self.out / name).to_pandas())
            if reason is not None:
                self.wrong += 1
                self.failures.append(f"{name}: wrong result ({reason})")
        return wall

    def run(self) -> dict:
        t0 = time.perf_counter()
        import __spark_entry__ as entry  # imports the engine package

        self.entry = entry
        import_s = time.perf_counter() - t0
        from perfbench.oracle import Oracle

        self.oracle = Oracle(str(ROOT), self.data, self.wl.pipelines)

        if self.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer()
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = self.set_up()
            bring_up_s = time.perf_counter() - t
            warmup_s = sum(self.run_pass(spark) for _ in range(WARMUP_PASSES))
            walls = []
            deadline = time.perf_counter() + self.seconds
            while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
                walls.append(self.run_pass(spark))
        record = {
            "workload": self.wl.name,
            "seed": self.seed,
            "sf": SF,
            "cores": spark.sparkContext.defaultParallelism,
            "versions": versions(spark),
            "order": self.order,
            "import_s": import_s,
            "bring_up_s": bring_up_s,
            "warmup_s": warmup_s,
            "pass_walls_s": walls,
            "pipeline_s": self.pipeline_s,
            "lifetime_after_pass": self.lifetime,
            "peak_rss_mb_by_command": rss.peak_by_command,
        }
        metrics = {
            "wall_s": statistics.median(walls),
            "setup_s": import_s + bring_up_s + warmup_s,
            "peak_rss_mb": rss.peak,
        }
        if self.trace:
            metrics = self.traced_pass(spark, statistics.median(walls), record)
        else:
            spark.stop()
        record["metrics"] = metrics
        record.update(
            attempted=self.attempted,
            error_rate=self.errors / self.attempted,
            wrong_results=self.wrong,
            failures=self.failures,
        )
        return record

    def traced_pass(self, spark, untraced_wall: float, record: dict) -> dict:
        from perfbench.eventlog import read_events, reduce_log
        from perfbench.trace import FAMILIES, self_times

        self.trace_on("traced")
        try:
            traced_wall = self.run_pass(spark)
        finally:
            self.trace_off()
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log
        spans = self.tracer.spans
        pass_span = next(s for s in spans if s.run == "traced" and s.layer == "pass")
        log = self.work / "eventlog" / app_id
        m = reduce_log(read_events(str(log)), spans, pass_span)

        own = self_times(spans)

        def self_sum(run: str, pred) -> float:
            return sum(own[s.id] for s in spans if s.run == run and pred(s))

        def count(run: str, name: str) -> int:
            return sum(1 for s in spans if s.run == run and s.name == name)

        m["session.get_spark_s"] = self_sum("setup", lambda s: s.layer == "session")
        m["runtime.ensure_shipped_s"] = self_sum("setup", lambda s: s.layer == "runtime")
        m["tables.register_s"] = self_sum("setup", lambda s: s.name == "tables.register")
        is_load = lambda s: s.name == "tables.load_table"  # noqa: E731
        m["tables.load_table_s"] = self_sum("setup", is_load) + self_sum("traced", is_load)
        m["tables.load_table_calls"] = (
            count("setup", "tables.load_table") + count("traced", "tables.load_table")
        )
        m["pipeline.process_s"] = self_sum("traced", lambda s: s.layer in ("pipeline", "registry"))
        m["pipeline.process_calls"] = count("traced", "pipeline.process")
        for fam in FAMILIES:
            layer = f"operators.{fam}"
            m[f"{layer}.call_s"] = self_sum("traced", lambda s, layer=layer: s.layer == layer)
        m["sink.s"] = self_sum("traced", lambda s: s.layer == "sink")
        m["lifetime.persisted_rdds"], m["lifetime.cached_relations"] = self.lifetime[LIFETIME_PASS]
        m["trace.overhead_s"] = traced_wall - untraced_wall
        record["trace_files"] = self.write_trace(log)
        return {n: float(m.get(n, 0.0)) for n in metric_units("per_layer")}

    def write_trace(self, log: Path) -> list[str]:
        """Keep the spans and the event log of the traced run."""
        base = HERE / ".cache" / "traces" / f"{self.wl.name}-seed{self.seed}"
        base.parent.mkdir(parents=True, exist_ok=True)
        spans = base.with_suffix(".spans.json")
        spans.write_text(json.dumps(self.tracer.dump()))
        events = base.with_suffix(".eventlog")
        shutil.copyfile(log, events)
        return [str(spans), str(events)]


def lifetime_counts(spark) -> tuple[int, int]:
    """(persisted RDDs, cached relations) as the session holds them now."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return persisted, field.get(cm).size()


def versions(spark) -> dict[str, str]:
    import duckdb
    import pyarrow

    return {"spark": spark.version, "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


# -- process lifetime ---------------------------------------------------------------
def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def report(record: dict, trace: bool) -> dict:
    units = metric_units("per_layer" if trace else "end_to_end")
    metrics = {n: {"value": record["metrics"][n], "unit": u} for n, u in units.items()}
    return {
        "correct": record["error_rate"] == 0 and record["wrong_results"] == 0,
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "__spark_entry__.py").is_file() or not (
        ROOT / "sensordatapipelines_spark" / "__init__.py"
    ).is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    if not sorted(DATA.glob("*.parquet")):
        print(f"perfbench: no input tables under {DATA}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT)]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = HERE / ".cache" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    try:
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
        record = bench.run()
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    results = HERE / ".cache" / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )
    print("run " + json.dumps({k: record[k] for k in (
        "workload", "seed", "sf", "cores", "versions", "pass_walls_s", "bring_up_s",
        "warmup_s", "lifetime_after_pass")}))
    for f in record["failures"]:
        print(f"FAIL {f}")
    print(f"{'error_rate':28s} {record['error_rate']:.4f} ratio")
    print(f"{'wrong_results':28s} {record['wrong_results']} count")
    result = report(record, bool(args.trace))
    for n, m in result["metrics"].items():
        print(f"{n:28s} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
