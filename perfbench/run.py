#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The benchmark writes a seeded copy of the
workload's input tables (``inputs.py``), starts ``local[nproc]`` through
the program's ``session.get_spark``, loads the registry, makes one untimed
warm pass, checks every output against DuckDB, makes two more untimed
passes, then makes timed passes (at least three, and for at least
``--seconds``) and reports their median. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (a separate traced pass with spans, Spark
counters, the UDF ``perf`` profiler and a streaming listener). The line
before it is the run record (box context, input sizes, per-pass times);
the record and the spans are also written under ``.perfbench/``.

Everything the run writes stays under ``.perfbench/`` in the working
directory; the per-run scratch directory there is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: a run must end well inside the three minutes it is given, shutdown included
DEADLINE_S = 150

#: driver heap, fixed in size and touched at start: left to grow, the
#: heap's size follows the collector's load-dependent sizing (the same run
#: peaked anywhere from 1.7 to 2.7 GB at the program's 8g default), so
#: peak memory would drift with the box instead of with the program
DRIVER_MEM = "2g"
#: untimed passes between the checks and the timed passes. The JVM keeps
#: compiling for several executions of each call after the first (the
#: warm pass and the checks are two), and on a contended box the compiler
#: threads fall behind, so without these the timed passes would start
#: further up the warm-up curve exactly when the box is slow. A fixed
#: count, so that every run and every commit warms up alike
WARMUP_PASSES = 2
#: timed passes per run, at least, so the median has a middle
MIN_PASSES = 3
#: end-to-end metrics (untraced runs) -> unit
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_mb_s": "MB/s",
    "peak_rss_mb": "MB",
}
_COUNTERS = (
    ("build_s", "s"), ("build_jobs", "count"), ("action_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
#: layers whose self time the traced run reports
SPAN_LAYERS = ("session", "registry", "operators", "llmops", "plans", "streaming", "perfbench")
#: per-layer metrics (traced runs) -> unit
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "llmops.fixture_stage_s": "s",
    **{f"{layer}.{c}": u for layer in ("operators", "llmops") for c, u in _COUNTERS},
    "sources.input_bytes": "bytes",
    "sources.scan_tasks": "count",
    "llmops.python_s": "s",
    "llmops.python_bytes": "bytes",
    "plans.validate_s": "s",
    "plans.run_s": "s",
    "plans.output_bytes": "bytes",
    **{f"streaming.{p}_ms": "ms" for p in (
        "latestOffset", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution",
    )},
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    **{f"{layer}.self_s": "s" for layer in SPAN_LAYERS},
    "trace.overhead_s": "s",
}


class Stop(BaseException):
    """Raised on the deadline alarm or SIGTERM so that the run still stops
    its processes and removes its scratch directory; not an ``Exception``,
    so no per-call handler swallows it."""


def _stop(signum, frame):
    raise Stop(f"stopped by {signal.Signals(signum).name}")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spark_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python temp files write inside
    the run's scratch directory, and let Python workers import the
    program."""
    os.environ["TMPDIR"] = work
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = (
        f"-Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData "
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    )
    # the launcher JVM that spark-submit runs first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={work} "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        f'--driver-java-options "{java_opts}" pyspark-shell'
    )


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        import inputs
        import measure
        from workloads import WORKLOADS

        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.inputs = inputs
        self.m = measure
        self.tracer = measure.Tracer(self.run_id, trace)
        self.failures: dict[str, str] = {}
        self.record: dict = {"workload": workload, "seed": seed, "trace": int(trace)}
        self.spark = None

    # -- calls into the program -------------------------------------------

    def _fail(self, name: str) -> None:
        self.failures.setdefault(name, traceback.format_exc(limit=3).strip().splitlines()[-1])

    def _key(self, key: str, tag: str, tracer, per_key: dict) -> None:
        layer = self.owner[key]
        group = f"{tag}:{key}"
        self.spark.sparkContext.setJobGroup(group, key)
        try:
            with tracer.span(key, layer) as span:
                t0 = time.perf_counter()
                with tracer.span(f"{key}.build", layer):
                    df = self.queries[key](self.spark, self.data)
                t1 = time.perf_counter()
                if span is not None:
                    span["counters"]["build_jobs"] = len(self.counters.job_ids(group))
                with tracer.span(f"{key}.action", layer):
                    df.write.mode("overwrite").format("noop").save()
                per_key[key] = (t1 - t0, time.perf_counter() - t1)
        except Exception:
            self._fail(key)

    def _pipeline(self, name: str, tag: str, tracer, per_key: dict) -> None:
        from dynamic_spark_spark.plans.pipeline import Pipeline
        from workloads import pipeline_args, pipeline_spec

        spec = pipeline_spec(ROOT, name)
        args = pipeline_args(self.data, os.path.join(self.work, "sinks", name))
        self.spark.sparkContext.setJobGroup(f"{tag}:{name}", name)
        try:
            with tracer.span(name, "plans"):
                t0 = time.perf_counter()
                with tracer.span(f"{name}.validate", "plans"):
                    p = Pipeline(spec, args)
                    problems = p.validate(self.spark)
                    if problems:
                        raise AssertionError(f"{name}: {problems}")
                t1 = time.perf_counter()
                with tracer.span(f"{name}.run", "plans"):
                    p.run(self.spark)
                per_key[name] = (t1 - t0, time.perf_counter() - t1)
        except Exception:
            self._fail(name)

    def run_pass(self, tag: str, tracer) -> tuple[float, dict]:
        """One pass over the workload; returns its wall time and per-call
        ``(build or validate, action or run)`` seconds."""
        per_key: dict[str, tuple[float, float]] = {}
        t0 = time.perf_counter()
        with tracer.span(f"pass:{tag}", "perfbench"):
            for key in self.wl.keys:
                self._key(key, tag, tracer, per_key)
            for name in self.wl.pipelines:
                self._pipeline(name, tag, tracer, per_key)
        return time.perf_counter() - t0, per_key

    # -- phases -------------------------------------------------------------

    def setup(self, rss) -> None:
        """Session start, registry load and one untimed warm pass, which
        stages the raw-format fixtures."""
        from dynamic_spark_spark.llmops import fixtures
        from dynamic_spark_spark.session import get_spark
        from workloads import owner_layer

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "session"):
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        rss.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        t1 = time.perf_counter()
        with self.tracer.span("registry.load_all_queries", "registry"):
            from dynamic_spark_spark.registry import load_all_queries

            self.queries = load_all_queries()
        t2 = time.perf_counter()
        self.owner = {k: owner_layer(self.queries[k]) for k in self.wl.keys}
        self.counters = self.m.SparkCounters(self.spark)

        staging = []
        stage_dir = fixtures.staged_fixture_dir

        def timed_stage(spark, sf_dir, name, write):
            def timed_write(path):
                s0 = time.perf_counter()
                try:
                    write(path)
                finally:
                    staging.append(time.perf_counter() - s0)
            return stage_dir(spark, sf_dir, name, timed_write)

        fixtures.staged_fixture_dir = timed_stage
        try:
            warm_s, _ = self.run_pass("warm", self.m.Tracer(self.run_id, False))
        finally:
            fixtures.staged_fixture_dir = stage_dir
        self.setup_s = time.perf_counter() - t0
        self.record["setup"] = {
            "session_start_s": t1 - t0,
            "registry_load_s": t2 - t1,
            "fixture_stage_s": sum(staging),
            "warm_pass_s": warm_s,
        }

    def timed_window(self) -> list[float]:
        """``WARMUP_PASSES`` untimed passes, then untraced passes until
        ``seconds`` have elapsed and at least ``MIN_PASSES`` have run."""
        walls, passes = [], []
        off = self.m.Tracer(self.run_id, False)
        self.record["warmup_passes_s"] = [
            self.run_pass(f"warmup{i}", off)[0] for i in range(WARMUP_PASSES)
        ]
        start = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - start < self.seconds:
            wall, per_key = self.run_pass(f"timed{len(walls)}", off)
            walls.append(wall)
            passes.append({"wall_s": wall, "calls": per_key})
        self.record["passes"] = passes
        return walls

    def traced_pass(self, last_untraced_wall: float) -> dict[str, float]:
        """One traced pass: spans, Spark counters per job group, Python
        worker time from the UDF ``perf`` profiler and streaming progress
        from a registered listener. Its overhead is its wall time minus the
        untraced pass just before it, the nearest in JIT warm-up."""
        spark = self.spark
        listener = self.m.StreamProgress()
        spark.streams.addListener(listener)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        spark.profile.clear(type="perf")
        try:
            wall, per_key = self.run_pass("traced", self.tracer)
            self.counters.wait_idle()
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.streams.removeListener(listener)
        python_s = sum(
            s.total_tt for s in spark._profiler_collector._perf_profile_results.values()
        )

        out = {name: 0.0 for name in LAYER_UNITS}
        setup = self.record["setup"]
        out["session.start_s"] = setup["session_start_s"]
        out["registry.load_s"] = setup["registry_load_s"]
        out["llmops.fixture_stage_s"] = setup["fixture_stage_s"]
        job_ids: set[int] = set()
        for span in self.tracer.spans:
            if span["parent"] is None or self.tracer.spans[span["parent"]]["name"] != "pass:traced":
                continue
            jobs = self.counters.job_ids(f"traced:{span['name']}")
            job_ids.update(jobs)
            span["counters"].update(self.counters.stage_totals(jobs))
            c = dict(span["counters"])
            out["sources.input_bytes"] += c.pop("input_bytes")
            out["sources.scan_tasks"] += c.pop("scan_tasks")
            layer = span["layer"]
            if layer in ("operators", "llmops"):
                c["build_s"], c["action_s"] = per_key.get(span["name"], (0.0, 0.0))
                for name, value in c.items():
                    out[f"{layer}.{name}"] += value
            elif layer == "plans":
                validate, run = per_key.get(span["name"], (0.0, 0.0))
                out["plans.validate_s"] += validate
                out["plans.run_s"] += run
        out["llmops.python_s"] = float(python_s)
        out["llmops.python_bytes"] = self.counters.python_bytes(job_ids)
        out["plans.output_bytes"] = float(_tree_bytes(os.path.join(self.work, "sinks")))
        for name, value in listener.totals.items():
            out[f"streaming.{name}"] = float(value)
        for layer, s in self.m.self_times(self.tracer.spans).items():
            out[f"{layer}.self_s"] = s
        out["trace.overhead_s"] = wall - last_untraced_wall
        self.record["traced_pass"] = {"wall_s": wall, "calls": per_key}
        return out

    def check(self) -> int:
        """Check every output once, outside every timed metric; returns the
        number of outputs attempted."""
        import duckdb

        from workloads import check_key, check_pipeline

        con = duckdb.connect()
        for t in self.wl.tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data}/{t}.parquet/*.parquet')"
            )
        for key in self.wl.keys:
            try:
                check_key(self.spark, self.queries, key, self.data, con)
            except Exception:
                self._fail(key)
        for name in self.wl.pipelines:
            try:
                check_pipeline(self.spark, name, os.path.join(self.work, "sinks", name), con)
            except Exception:
                self._fail(name)
        con.close()
        return len(self.wl.keys) + len(self.wl.pipelines)

    def execute(self) -> dict:
        steal0 = self.m.cpu_steal_s()
        self.record["box"] = {
            "nproc": _nproc(),
            "SPARK_GRAFT_CPUS_env": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_before": os.getloadavg(),
            "calibration_s": self.m.calibration_s(),
        }
        _spark_env(self.work)
        t0 = time.perf_counter()
        sizes = self.inputs.generate(self.data, self.seed, self.wl.tables, self.wl.replicas)
        input_mb = sum(s["bytes"] for s in sizes.values()) / 1e6
        self.record["inputs"] = {
            "source": self.inputs.SRC, "tables": sizes, "mb": input_mb,
            "replicas": self.wl.replicas,
            "generate_s": time.perf_counter() - t0,
        }

        with self.m.RssSampler() as rss:
            self.setup(rss)
            t0 = time.perf_counter()
            attempted = self.check()
            self.record["check_s"] = time.perf_counter() - t0
            walls = self.timed_window()
        wall = statistics.median(walls)
        self.record["rss_at_peak_mb"] = {k: v / 1e6 for k, v in rss.at_peak.items()}
        metrics = {
            "setup_s": self.setup_s,
            "wall_s": wall,
            "throughput_mb_s": input_mb / wall,
            "peak_rss_mb": rss.peak / 1e6,
        }
        units = E2E_UNITS
        if self.trace:
            metrics = self.traced_pass(walls[-1])
            units = LAYER_UNITS
        self.record["box"]["loadavg_after"] = os.getloadavg()
        self.record["box"]["cpu_steal_s"] = self.m.cpu_steal_s() - steal0
        self.record["failures"] = self.failures
        self.record["end_to_end" if not self.trace else "per_layer"] = metrics
        return {
            "correct": not self.failures,
            "attempted": attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def close(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for every
        process this run started to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        try:
            if self.spark is not None:
                self.spark.stop()
            gateway.shutdown()
        except Exception:
            # a call cut short by the deadline leaves the gateway unusable;
            # the JVM is stopped below all the same
            traceback.print_exc()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        _reap_children(self.m)


def _reap_children(m, timeout: float = 15.0) -> None:
    me = os.getpid()
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if m.process_tree(me) == [me]:
            return
        time.sleep(0.1)
    for pid in m.process_tree(me)[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while m.process_tree(me) != [me] and time.monotonic() < end + 5:
        time.sleep(0.1)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dynamic_spark_spark")):
        print(f"perfbench: no program at {ROOT}/dynamic_spark_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    signal.signal(signal.SIGALRM, _stop)
    signal.signal(signal.SIGTERM, _stop)
    signal.alarm(DEADLINE_S)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = run.execute()
    except (Exception, Stop):
        traceback.print_exc()
        return 1
    finally:
        try:
            run.close()
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"record-{stem}.json"), "w") as fh:
        json.dump(run.record, fh, indent=1)
    if args.trace:
        run.tracer.dump(os.path.join(out_dir, f"spans-{stem}.json"))
    if not args.trace:
        m = result["metrics"]
        print(
            f"{args.workload}: setup_s={m['setup_s']['value']:.3f} s "
            f"wall_s={m['wall_s']['value']:.3f} s "
            f"throughput_mb_s={m['throughput_mb_s']['value']:.3f} MB/s "
            f"peak_rss_mb={m['peak_rss_mb']['value']:.1f} MB "
            f"error_rate={result['failed'] / result['attempted']:.3f}"
        )
    print(json.dumps(run.record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
