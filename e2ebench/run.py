"""End-to-end benchmark of the engine: one closed-loop client, one
driver process, one SparkSession on ``local[<cores>]``.

    python3 e2ebench/run.py --workload llm_dedup --seed 1 --seconds 10 --trace 0

A run generates the workload's inputs from ``--seed`` (untimed, in a
child process), starts the session, runs one cold pass of every op
(each query's result is checked against its DuckDB oracle), then
timed passes for about ``--seconds``. The seed draws each pass's op
order. Between ops the run does what ``bench.py`` does and nothing
more: ``destroy_routing_broadcast(df)`` and ``spark.catalog.clearCache()``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. README.md defines every metric.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: ops per workload; README.md gives the reason for each
WORKLOADS = {
    "llm_dedup": [
        "jaccard_pairs_prefix_filter", "kmv_user_overlap", "cluster_topic_terms",
        "sessionize_events",
    ],
    "etl_star": ["run_pipeline"],
}
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s", "pass_s.p50": "s", "query_s.geomean": "s",
    "ops_per_min": "1/min", "driver_py_rss_peak_mb": "MB",
}


def per_layer_units() -> dict:
    from spans import OPERATOR_LAYERS

    units = {
        "session.start_s": "s", "session.cold_pass_s": "s", "session.warmup_s": "s",
        "readers.calls": "count", "readers.s": "s", "readers.jobs": "count",
        "writers.calls": "count", "writers.s": "s", "writers.jobs": "count",
        "writers.files": "count", "writers.bytes_per_input_byte": "ratio",
        "plans.build_s": "s", "plans.build_jobs": "count", "plans.quality_s": "s",
    }
    for layer in OPERATOR_LAYERS:
        units.update({f"{layer}.calls": "count", f"{layer}.self_s": "s", f"{layer}.jobs": "count"})
    units.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.outside_jobs_s": "s",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
        "spark.executor_busy_share": "ratio",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB", "spark.broadcast_mb": "MB",
        "plan.exchanges": "count", "plan.broadcast_joins": "count",
        "plan.python_evals": "count",
        "python.data_sent_mb": "MB", "python.data_received_mb": "MB",
        "driver.collects": "count", "driver.collect_rows": "count",
        "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
        "storage.resident_rdds_end": "count", "storage.resident_mb_end": "MB",
        "trace.overhead_share": "ratio",
        "host.cpu_canary_start_s": "s", "host.cpu_canary_end_s": "s",
    })
    return units


def log(phase: str) -> None:
    print(f"[e2ebench] {time.perf_counter() - T_START:8.2f}s {phase}", file=sys.stderr, flush=True)


def start_session(work: str):
    from udacity_data_engineering_capstone_project_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "e2ebench",
        cpus=cores,
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark, cores


def stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def result_hash(pdf) -> dict:
    """A result's identity as ``tools/oracle_check.py`` compares it."""
    from tools.oracle_check import value_hash

    return {"rows": len(pdf), "cols": sorted(pdf.columns), "hash": value_hash(pdf)}


class Runner:
    """Runs one workload's ops and keeps every latency and check."""

    def __init__(self, spark, cores, workload, data_dir, work, planted, tracer):
        from udacity_data_engineering_capstone_project_spark.operators.similarity import (
            destroy_routing_broadcast,
        )
        from udacity_data_engineering_capstone_project_spark.plans.registry import query_fns

        self.spark, self.cores, self.workload = spark, cores, workload
        self.data_dir, self.work, self.planted = data_dir, work, planted
        self.tracer = tracer
        self.fns = query_fns()
        self.release = destroy_routing_broadcast
        self.attempted = 0
        self.failures: dict[str, int] = {}
        self.executions: dict[str, int] = {}
        self.results: dict[str, dict] = {}  # cold-pass result per query op
        self.records: list[dict] = []  # traced op records
        if workload == "etl_star":
            with open(os.path.join(data_dir, "labels.sas")) as f:
                self.labels = f.read()

    def _span(self, layer):
        return self.tracer.span(layer) if self.tracer and self.tracer.active else nullcontext()

    def _query(self, name, collect):
        with self._span("plans.build"):
            df = self.fns[name](self.spark, self.data_dir)
        if collect:  # cold pass: the oracle check needs the result
            return df, df.toPandas()
        df.write.mode("overwrite").format("noop").save()
        return df, None

    def _etl(self, _name, _collect):
        from udacity_data_engineering_capstone_project_spark.plans import model, pipeline
        from udacity_data_engineering_capstone_project_spark.sources import readers

        d, out = self.data_dir, os.path.join(self.work, "model")
        with self._span("plans.build"):
            report = pipeline.run_pipeline(
                self.spark, f"{d}/i94", self.labels, f"{d}/demographics.csv",
                f"{d}/temperatures.csv", out,
            )
        with self._span("plans.quality"):
            checks = {c.check_name: c for c in report.collect()}
        star = model.build_star_query(*(readers.read_table(self.spark, out, n) for n in (
            "fact_i94", "dim_date", "dim_country", "dim_i94visa", "dim_i94mode", "dim_i94port")))
        n_star = star.count()
        ok = (
            len(checks) == 12 and all(c.passed == 1 for c in checks.values())
            and n_star == checks["fact_nonempty"].metric == self.planted["fact_rows"]
        )
        return star, ok

    def run_op(self, name: str, traced: bool, check: bool) -> float | None:
        """One op: query function call plus action, timed; then (untimed) the
        trace record, the output check and the between-op hygiene.
        With ``check`` a query op's action collects its result for the
        oracle comparison instead of writing to the noop sink."""
        self.attempted += 1
        self.executions[name] = self.executions.get(name, 0) + 1
        body = self._etl if self.workload == "etl_star" else self._query
        if traced:
            self.tracer.begin_op(self.attempted)
        t0 = time.perf_counter()
        try:
            df, out = body(name, check)
        except Exception as e:  # counted as a failed op; the run goes on
            print(f"[e2ebench] {name} failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
            self.failures[name] = self.failures.get(name, 0) + 1
            if traced:
                self.tracer.end_op()
            self.spark.catalog.clearCache()
            return None
        latency = time.perf_counter() - t0
        if traced:
            self.tracer.end_op()
            self.records.append(self._trace_record(name, df, latency))
        if self.workload == "etl_star":
            if not out:
                self.failures[name] = self.failures.get(name, 0) + 1
        elif out is not None:
            self.results[name] = result_hash(out)
        self.release(df)
        self.spark.catalog.clearCache()
        return latency

    def _trace_record(self, name, df, latency) -> dict:
        from tools.plan_audit import audit

        rec = self.tracer.op_record(latency, self.cores)
        files = nbytes = 0
        for p in rec.pop("writers.paths"):
            for d, _, fs in os.walk(p):
                for f in fs:
                    if not f.startswith(("_", ".")):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, f))
        rec["writers.files"] = files
        rec["writers.bytes_per_input_byte"] = nbytes / self.planted["input_bytes"]
        shape = audit(name, df)
        rec["plan.exchanges"] = shape["shuffles"]
        rec["plan.broadcast_joins"] = shape["broadcast_joins"]
        rec["plan.python_evals"] = shape["python_evals"]
        rec["op"], rec["latency_s"] = name, latency
        return rec


def run_passes(runner, ops, seed, seconds, traced_run):
    """The cold pass, then timed passes until about ``seconds`` of op
    time: a further pass starts only while the time measured so far is
    short of ``seconds`` by more than half a pass. A traced run
    alternates untraced and traced passes and runs at least one of
    each, so it can report the tracing overhead. There is no warm-up
    pass; README.md says why."""
    rng = random.Random(seed)
    cold = [runner.run_op(name, traced=False, check=True) for name in rng.sample(ops, len(ops))]
    passes = []  # (traced, {op: latency or None if it failed})
    measured = 0.0
    while True:
        traced = traced_run and len(passes) % 2 == 1
        lat = {name: runner.run_op(name, traced=traced, check=False)
               for name in rng.sample(ops, len(ops))}
        passes.append((traced, lat))
        measured += sum(v for v in lat.values() if v is not None)
        done = measured >= seconds - 0.5 * measured / len(passes)
        if done and (not traced_run or len(passes) >= 2):
            return sum(v for v in cold if v is not None), passes


def latencies(passes, traced=False) -> dict:
    per_op = {}
    for t, lat in passes:
        for name, v in lat.items():
            if t == traced and v is not None:
                per_op.setdefault(name, []).append(v)
    return per_op


def ops_per_min(per_op: dict) -> float:
    lat = [v for vs in per_op.values() for v in vs]
    return 60 * len(lat) / sum(lat)


def end_to_end(passes, setup_s) -> dict:
    per_op = latencies(passes)
    return {
        "setup_s": setup_s,
        "pass_s.p50": statistics.median(
            sum(v for v in lat.values() if v is not None) for _, lat in passes
        ),
        "query_s.geomean": math.exp(
            statistics.fmean(math.log(statistics.median(v)) for v in per_op.values())
        ),
        "ops_per_min": ops_per_min(per_op),
        "driver_py_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }


def op_tail(passes) -> str:
    """Pooled op latency at the highest percentile with at least ten
    ops beyond it (stderr only; README.md says why it is not a metric)."""
    lat = sorted(v for vs in latencies(passes).values() for v in vs)
    n = len(lat)
    if n < 11:
        return f"op_s.tail: n={n} ops, no percentile has 10 ops beyond it"
    pct = math.floor(100 * (n - 10) / n)
    return f"op_s.tail: p{pct}={lat[math.ceil(pct / 100 * n) - 1]:.4f}s over n={n} ops"


def per_layer(runner, passes, run_level: dict) -> dict:
    """Per-op means over the traced ops, plus the per-run values."""
    units = per_layer_units()
    out = {k: statistics.fmean(r.get(k, 0.0) for r in runner.records) for k in units}
    out["trace.overhead_share"] = 1 - (
        ops_per_min(latencies(passes, traced=True)) / ops_per_min(latencies(passes))
    )
    out.update(run_level)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="end-to-end engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--records", help="write the traced per-op records to this JSON file")
    args = ap.parse_args()

    # fail before any work when the engine is not beside the benchmark
    from bench import _measure_canary
    from udacity_data_engineering_capstone_project_spark.plans.registry import oracle_sqls

    ops = WORKLOADS[args.workload]
    oracles = {} if args.workload == "etl_star" else {op: oracle_sqls()[op] for op in ops}

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    spark = oracle = None
    try:
        t0 = time.perf_counter()
        canary_start = _measure_canary()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--out", data],
            check=True,
        )
        with open(os.path.join(data, "planted.json")) as f:
            planted = json.load(f)
        excluded_s = time.perf_counter() - t0
        log(f"inputs ready ({excluded_s:.2f}s with the canary, excluded from setup)")

        spark, cores = start_session(work)
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        start_s = time.perf_counter() - T_START - excluded_s
        log("session ready")
        runner = Runner(spark, cores, args.workload, data, work, planted, tracer)
        cold_s, passes = run_passes(runner, ops, args.seed, args.seconds, bool(args.trace))
        log(f"passes done (cold {cold_s:.2f}s, {len(passes)} timed)")
        canary_end = _measure_canary()

        if oracles:  # DuckDB runs while the session shuts down
            with open(os.path.join(work, "oracles.json"), "w") as f:
                json.dump(oracles, f)
            oracle = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "oracle.py"), data,
                 os.path.join(work, "oracles.json")],
                stdout=subprocess.PIPE, text=True,
            )
        if args.trace:
            from spans import resident_storage

            rdds, rdd_mb = resident_storage(spark)
            metrics = per_layer(runner, passes, {
                "session.start_s": start_s, "session.cold_pass_s": cold_s,
                "session.warmup_s": 0.0,
                "storage.resident_rdds_end": rdds, "storage.resident_mb_end": rdd_mb,
                "jvm.heap_peak_mb": tracer.heap_peak_mb(),
                "host.cpu_canary_start_s": canary_start, "host.cpu_canary_end_s": canary_end,
            })
            if args.records:
                with open(args.records, "w") as f:
                    json.dump(runner.records, f)
        else:
            metrics = end_to_end(passes, start_s + cold_s)
        units = per_layer_units() if args.trace else END_TO_END
        stop_session(spark)
        spark = None
        if oracle is not None:
            stdout, _ = oracle.communicate()
            if oracle.returncode:
                raise SystemExit(f"oracle.py exited with {oracle.returncode}")
            for name, want in json.loads(stdout.strip().splitlines()[-1]).items():
                got = runner.results.get(name)
                if got != want:
                    print(f"[e2ebench] {name}: result {got} != oracle {want}", file=sys.stderr)
                    runner.failures[name] = runner.executions[name]
        failed = sum(runner.failures.values())
        print(op_tail(passes), file=sys.stderr)
        print(f"host.cpu_canary_s: start={canary_start:.4f} end={canary_end:.4f}", file=sys.stderr)
    finally:
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
            oracle.wait()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("session stopped, work dir removed")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
