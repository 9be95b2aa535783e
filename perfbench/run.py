"""Benchmark of the spark-graft engine, driven from outside the program.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one client in a closed loop on
``local[<cpus>]``: each query is ``registry.load_all()[key].fn(spark, sf_dir)``
(build), ``df._jdf.queryExecution().executedPlan()`` (plan) and
``df.write.format("noop")`` (execution), and the next query starts when the
previous one ends. The seed permutes the key order within each pass; the data
is the fixed TESTDATA copy (seed 42) under ``perfbench/data``.

A run sets up three times (session build and program import; the median
counts), then runs one warm-up pass that collects every key, then noop passes
whose times are not kept (``workloads.WARMUP_PASSES``), then timed passes
worth ``--seconds``, counted in passes of the workload's nominal pass time
(``workloads.PASS_S``), so a given ``--seconds`` is a fixed amount of work.
``setup_s`` is the median set-up plus the Spark time of the warm-up pass.
Per-query figures are each key's median over the timed passes. Nothing is
retried and no best-of-N is kept. After the peak RSS is read and Spark has
stopped, every collected result is compared with its DuckDB oracle, so the
oracle's time and memory count in no metric.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
wrappers of ``tracing.py``, prints the per-layer metrics and writes every span
to ``.perfbench/trace-<workload>-seed<seed>.json``. The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import PASS_S, SF, WARMUP_PASSES, WORKLOADS  # noqa: E402

PROGRAM = "training_feed_kinesis_spark"
SETUPS = 3
WARMUP = -1  # pass number of the warm-up and check pass
JIT_WARMUP = -2  # pass number of the noop passes after it, whose times are not kept


def _env(work: str, cpus: int) -> None:
    """Point every file the run writes into ``work`` (inside the checkout)."""
    for d in ("spark-local", "scratch", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    warehouse = f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TFK_SCRATCH=os.path.join(work, "scratch"),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LAUNCHER_OPTS=java_opts,  # spark-submit's own launcher JVM
        # Python workers import the program too
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)}"
            f" --conf {shlex.quote(warehouse)} pyspark-shell"
        ),
    )


def _purge_program() -> None:
    for name in list(sys.modules):
        if name == PROGRAM or name.startswith(PROGRAM + "."):
            del sys.modules[name]


def _peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _source_sha() -> str:
    """Hash of the program's sources; the checkout need not be a git repo."""
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PROGRAM))):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
    )
    return out.stdout.strip() or None


class Bench:
    def __init__(self, workload: str, seed: int, tracer):
        self.workload = workload
        self.keys = WORKLOADS[workload]
        self.sf_dir = os.path.join(HERE, "data", SF)
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.spark = None
        self.setups: list[dict] = []
        self.warmup: list[dict] = []  # one record per warm-up query
        self.results: dict = {}  # key -> pandas result of the warm-up pass
        self.records: list[dict] = []  # one record per timed query
        self.failures: list[dict] = []
        self.passes: list[float] = []
        self.jit_passes: list[float] = []
        self._qid = 0

    # -- set-up ----------------------------------------------------------------
    def set_up(self) -> None:
        t0 = T_PROCESS
        if self.spark is not None:
            t0 = time.perf_counter()
            self.spark.stop()
            _purge_program()
        if self.tracer is not None:
            from tracing import install_wrappers

            install_wrappers(self.tracer)
        from training_feed_kinesis_spark.operators import scans
        from training_feed_kinesis_spark.streaming import replay

        # checkpoints go to the program's own scratch fallback, inside the
        # checkout, instead of /dev/shm
        replay._ckpt_dir = lambda: scans.scratch_dir("ckpt_")
        from training_feed_kinesis_spark.registry import load_all
        from training_feed_kinesis_spark.session import build_session

        t1 = time.perf_counter()
        self.spark = build_session("perfbench")
        t2 = time.perf_counter()
        self.registry = load_all()
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setups.append(
            {"total_s": t3 - t0, "build_session_s": t2 - t1, "load_all_s": t3 - t2}
        )

    def attach_probes(self) -> None:
        self.counters = self.progress = None
        if self.tracer is not None:
            from tracing import ProgressLog, SparkCounters

            self.counters = SparkCounters(self.spark)
            self.progress = ProgressLog(self.tracer)
            self.spark.streams.addListener(self.progress)

    # -- one query -------------------------------------------------------------
    def _span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def run_query(self, key: str, consume, pass_no: int) -> dict | None:
        """Build, plan and consume one key; None when it raised."""
        sc = self.spark.sparkContext
        tr, ctr = self.tracer, self.counters
        self._qid += 1
        group = f"perfbench-{os.getpid()}-{self._qid}"  # unique per execution
        rec = {"key": key, "pass": pass_no, "query": self._qid}
        marks = []
        sc.setJobGroup(group, key)
        if tr is not None:
            tr.query = self._qid
            marks.append(ctr.marks())
        try:
            with self._span("query"):
                with self._span("operators.build"):
                    t0 = time.perf_counter()
                    df = self.registry[key].fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                if tr is not None:
                    marks.append(ctr.marks())
                with self._span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                if tr is not None:
                    marks.append(ctr.marks())
                with self._span("spark.exec"):
                    out = consume(df)
                    t3 = time.perf_counter()
                df = None  # release_after: drop the frame once it is consumed
            if tr is not None:
                marks.append(ctr.marks())
        except Exception as exc:  # one failing key must not stop the run
            err = traceback.format_exception_only(exc)[-1].strip()
            self.failures.append({"key": key, "pass": pass_no, "error": err[:300]})
            return None
        finally:
            sc._jsc.clearJobGroup()
            if tr is not None:
                # deliver the query's last listener events while it is current
                ctr.settle()
                tr.query = None
        rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, wall_s=t3 - t0)
        if tr is not None:
            (j0, s0), (j1, _), (_, s2), (j3, s3) = marks
            rec["build_jobs"] = j1 - j0
            rec["jobs"] = j3 - j0
            rec["jobs_in_group"] = len(sc.statusTracker().getJobIdsForGroup(group))
            # by stage-id range: micro-batches run on the stream thread,
            # outside the caller's job group
            rec["stages"] = ctr.stages(s0, s3)
            rec["exec_stages"] = ctr.stages(s2, s3)
        rec["out"] = out
        return rec

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _collect(self, df):
        conf = "spark.sql.execution.arrow.pyspark.enabled"
        prev = self.spark.conf.get(conf)
        self.spark.conf.set(conf, "false")  # row path, as a plain session collects
        try:
            return df.toPandas()
        finally:
            self.spark.conf.set(conf, prev)

    # -- passes ----------------------------------------------------------------
    def warm_up(self) -> None:
        """Collect every key once; the results are checked at the end."""
        for key in self.keys:
            rec = self.run_query(key, self._collect, WARMUP)
            if rec is not None:
                self.results[key] = rec.pop("out")
                self.warmup.append(rec)

    def check(self, oracle) -> None:
        """Compare each collected result with its oracle."""
        for key, result in self.results.items():
            try:
                why = oracle.check(result, self.registry[key].oracle)
            except Exception as exc:  # a broken oracle is a failed check
                why = f"oracle error: {exc}"[:300]
            if why:
                self.failures.append({"key": key, "pass": WARMUP, "error": why})

    def run_jit_warmup(self) -> None:
        """Noop passes whose times are not kept, so that the JIT approaches
        steady state before the timed passes."""
        for _ in range(WARMUP_PASSES[self.workload]):
            t0 = time.perf_counter()
            for key in self.rng.sample(self.keys, len(self.keys)):
                self.run_query(key, self._noop, JIT_WARMUP)
            self.jit_passes.append(time.perf_counter() - t0)

    def run_passes(self, seconds: float) -> None:
        """Whole timed passes in permuted order, as many as take ``seconds``
        at the workload's nominal pass time."""
        for _ in range(max(1, round(seconds / PASS_S[self.workload]))):
            order = self.rng.sample(self.keys, len(self.keys))
            t0 = time.perf_counter()
            for key in order:
                rec = self.run_query(key, self._noop, len(self.passes))
                if rec is not None:
                    rec.pop("out")
                    self.records.append(rec)
            self.passes.append(time.perf_counter() - t0)

    # -- results ---------------------------------------------------------------
    def end_to_end(self) -> tuple[dict, int]:
        by_key: dict[str, list[float]] = {}
        for r in self.records:
            by_key.setdefault(r["key"], []).append(r["wall_s"])
        # each key's median over the timed passes, so that one pass slowed
        # by the host or by a collection does not move the whole run
        key_s = [statistics.median(v) for v in by_key.values()]
        setup = statistics.median(s["total_s"] for s in self.setups) + sum(
            r["wall_s"] for r in self.warmup
        )
        return {
            "setup_s": (setup, "s"),
            # keys per second of a pass made of every key's median time
            "queries_per_s": (len(key_s) / sum(key_s), "1/s"),
            # the median over keys, not over all queries: with four or five
            # samples per key the middle query of a run jumps between keys
            "query_p50_s": (statistics.median(key_s), "s"),
            # a run times 20 queries of 4-5 keys, so a percentile with ten
            # samples beyond it would fall inside the body of the second
            # slowest key; the tail is the median time of the slowest key
            "query_tail_s": (max(key_s), "s"),
            "driver_peak_rss_mb": (self.driver_rss_mb, "MB"),
        }, len(self.records)

    def per_layer(self) -> dict:
        n = len(self.passes)
        recs, cold = self.records, self.warmup
        measured = {r["query"] for r in recs}
        warmup_ids = {r["query"] for r in cold}
        wall = sum(r["wall_s"] for r in recs)
        build = sum(r["build_s"] for r in recs)
        cores = self.counters.cores

        def spans(name, queries=measured):
            return [
                s for s in self.tracer.spans
                if s["name"] == name and s["query"] in queries
            ]

        def seconds(ss):
            return sum(s["end"] - s["start"] for s in ss)

        def hit_ratio(ss):
            return sum(s.get("hit", False) for s in ss) / len(ss) if ss else 0.0

        def stage_sum(field):
            return sum(r["stages"][field] for r in recs)

        batches = [b for b in self.progress.batches if b["query"] in measured]
        trigger = [b["ms"].get("triggerExecution", 0) for b in batches]
        drain_s = seconds(spans("streaming.replay.drain"))
        rows = sum(b["rows"] for b in batches)

        def batch_mean(f):
            return statistics.fmean(f(b) for b in batches) if batches else 0.0

        subs = spans("tables.substrate")
        cold_subs = spans("tables.substrate", warmup_ids)
        sinks = [
            t.name for t in self.spark.catalog.listTables()
            if t.name.startswith("tfk_replay_")
        ]
        return {
            "operators.build_s": (build / n, "s"),
            "operators.build_share": (build / wall, "ratio"),
            "operators.build_jobs": (sum(r["build_jobs"] for r in recs) / n, "count"),
            "operators.cold_build_s": (sum(r["build_s"] for r in cold), "s"),
            "spark.plan.plan_s": (sum(r["plan_s"] for r in recs) / n, "s"),
            "spark.plan.cold_plan_s": (sum(r["plan_s"] for r in cold), "s"),
            "spark.exec.exec_s": (sum(r["exec_s"] for r in recs) / n, "s"),
            "spark.exec.stages": (stage_sum("stages") / n, "count"),
            "spark.exec.tasks": (stage_sum("tasks") / n, "count"),
            "spark.exec.executor_run_s": (stage_sum("run_s") / n, "s"),
            "spark.exec.executor_cpu_s": (stage_sum("cpu_s") / n, "s"),
            "spark.exec.gc_s": (stage_sum("gc_s") / n, "s"),
            "spark.exec.shuffle_write_mb": (stage_sum("shuffle_write_mb") / n, "MB"),
            "spark.exec.shuffle_read_mb": (stage_sum("shuffle_read_mb") / n, "MB"),
            "spark.exec.input_mb": (stage_sum("input_mb") / n, "MB"),
            "spark.exec.overhead_s": (
                sum(r["exec_s"] - r["exec_stages"]["run_s"] / cores for r in recs) / n,
                "s",
            ),
            "spark.exec.cpu_util": (stage_sum("run_s") / (cores * wall), "ratio"),
            "tables.load_table_calls": (len(spans("tables.load_table")) / n, "count"),
            "tables.load_table_s": (seconds(spans("tables.load_table")) / n, "s"),
            "tables.plan_memo_hit_ratio": (hit_ratio(spans("tables.load_table")), "ratio"),
            "tables.substrate_builds": (sum(not s.get("hit", True) for s in subs) / n, "count"),
            "tables.substrate_build_s": (
                seconds(s for s in subs if not s.get("hit", True)) / n, "s"),
            "tables.substrate_hit_ratio": (hit_ratio(subs), "ratio"),
            "tables.cold_substrate_build_s": (
                seconds(s for s in cold_subs if not s.get("hit", True)), "s"),
            "tables.parallelize_calls": (len(spans("tables.parallelize")) / n, "count"),
            "tables.parallelize_s": (seconds(spans("tables.parallelize")) / n, "s"),
            "streaming.replay.prepare_s": (
                seconds(spans("streaming.replay.prepare")) / n, "s"),
            "streaming.replay.cold_prepare_s": (
                seconds(spans("streaming.replay.prepare", warmup_ids)), "s"),
            "streaming.replay.drain_s": (drain_s / n, "s"),
            "streaming.replay.batches": (len(batches) / n, "count"),
            "streaming.replay.input_rows": (rows / n, "count"),
            "streaming.replay.rows_per_s": (rows / drain_s if drain_s else 0.0, "1/s"),
            "streaming.replay.batch_p50_ms": (
                statistics.median(trigger) if trigger else 0.0, "ms"),
            "streaming.replay.batch_tail_ms": (max(trigger, default=0.0), "ms"),
            "streaming.replay.add_batch_ms": (
                batch_mean(lambda b: b["ms"].get("addBatch", 0)), "ms"),
            "streaming.replay.wal_commit_ms": (
                batch_mean(lambda b: b["ms"].get("walCommit", 0)), "ms"),
            "streaming.replay.commit_offsets_ms": (
                batch_mean(lambda b: b["ms"].get("commitOffsets", 0)), "ms"),
            "streaming.replay.query_planning_ms": (
                batch_mean(lambda b: b["ms"].get("queryPlanning", 0)), "ms"),
            "streaming.replay.state_rows": (batch_mean(lambda b: b["state_rows"]), "count"),
            "streaming.replay.state_commit_ms": (
                batch_mean(lambda b: b["state_commit_ms"]), "ms"),
            "streaming.replay.state_memory_mb": (
                max((b["state_bytes"] for b in batches), default=0) / 2**20, "MB"),
            # memory-sink views still registered, per pass (warm-up included)
            "streaming.replay.leaked_sink_tables": (
                len(sinks) / (n + 1 + len(self.jit_passes)), "count"),
            # JVM peak RSS follows G1 heap sizing: 2.8-4.9 GB over runs of
            # the same code on 4 cores, too wide for a bound
            "session.jvm_peak_rss_mb": (self.jvm_rss_mb, "MB"),
            "session.build_s": (
                statistics.median(s["build_session_s"] for s in self.setups), "s"),
            "registry.load_all_s": (
                statistics.median(s["load_all_s"] for s in self.setups), "s"),
        }

    def config(self, seed: int, load_start: list[float]) -> dict:
        sc = self.spark.sparkContext
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        return {
            "workload": self.workload,
            "sf": SF,
            "cpus": cpus,
            "compare_only_with": [self.workload, SF, cpus],
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": self.spark.version,
            "git_sha": _git_sha(),
            "source_sha": _source_sha(),
            "loadavg": {"start": load_start, "end": list(os.getloadavg())},
            "seed": seed,
            "keys": list(self.keys),
            "passes": len(self.passes),
            "pass_s": self.passes,
            "jit_warmup_pass_s": self.jit_passes,
            "setups": self.setups,
        }

    def read_peak_rss(self) -> None:
        self.driver_rss_mb = _peak_rss_mb("self")
        self.jvm_rss_mb = _peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)

    def layer_gap(self) -> float:
        """Largest share of a query span not covered by build + plan + exec."""
        by_id = {s["id"]: s for s in self.tracer.spans}
        parts: dict[int, float] = {}
        for s in self.tracer.spans:
            if s["parent"] is not None and by_id[s["parent"]]["name"] == "query":
                parts[s["parent"]] = parts.get(s["parent"], 0.0) + s["end"] - s["start"]
        return max(
            1 - parts.get(s["id"], 0.0) / (s["end"] - s["start"])
            for s in self.tracer.spans
            if s["name"] == "query"
        )

    def trace_detail(self) -> dict:
        return {
            "self_time_s": self.tracer.self_times(),
            "queries": self.warmup + self.records,
            "spans": self.tracer.spans,
            "micro_batches": self.progress.batches,
        }

    def shutdown(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "registry.py")):
        print(f"no {PROGRAM}/ beside perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    load_start = list(os.getloadavg())
    _env(work, len(os.sched_getaffinity(0)))
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    bench = Bench(args.workload, args.seed, tracer)
    try:
        for _ in range(SETUPS):
            bench.set_up()
        bench.attach_probes()
        bench.warm_up()
        bench.run_jit_warmup()
        bench.run_passes(args.seconds)
        bench.read_peak_rss()
        e2e, samples = bench.end_to_end()
        metrics = bench.per_layer() if tracer is not None else e2e
        cfg = bench.config(args.seed, load_start)
        if tracer is not None:
            trace_path = os.path.join(
                out_dir, f"trace-{args.workload}-seed{args.seed}.json"
            )
            with open(trace_path, "w") as f:
                json.dump({"config": cfg, **bench.trace_detail()}, f)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    from oracle import Oracle

    oracle = Oracle(bench.sf_dir)
    try:
        bench.check(oracle)
    finally:
        oracle.close()
    # every query run: warm-up and check pass, noop warm-up and timed passes
    attempted = len(bench.keys) * (1 + len(bench.jit_passes) + len(bench.passes))
    failed = len(bench.failures)
    print("config " + json.dumps(cfg))
    for f in bench.failures:
        print(f"FAILED {f['key']} (pass {f['pass']}): {f['error']}")
    print(
        "end-to-end" + (" (traced)" if tracer else "") + ": "
        + ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items())
        + f", failed_frac={failed / attempted:.4f}"
        + f" (tail = median of the slowest key; {samples} timed queries)"
    )
    if tracer is not None:
        print(f"largest query share outside build+plan+exec: {bench.layer_gap():.4f}")
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
