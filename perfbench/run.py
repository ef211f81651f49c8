"""Benchmark of the word-count & text-analytics engine.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client (this process, the
Spark driver) submits the next engine call only after the previous returns,
on a ``local[k]`` session with ``k`` = usable cores - 1, at most 3: in local
mode the driver JVM (Catalyst, JIT, GC) and this Python client share the box
with the task threads, and a core left to them makes rounds repeatable. Inputs are
generated from ``--seed`` (see ``gen.py``) under ``.bench_work/`` in the
checkout by a child process, before and outside any timed region.

A run:

1. sets up ``--setup-samples`` times: the extra samples in fresh child
   processes, then this process. One set-up is the pyspark import, session
   start, engine import, package shipping and the cold first call;
   ``setup_s`` is their median;
2. runs untimed warm-up rounds for ``WARMUP_S`` (at most ``--seconds``, at
   least one round), then whole rounds (``workloads.py``) until
   ``--seconds`` have passed and at least ``MIN_ROUNDS`` ran, timing each
   call as build + collect (or write);
3. checks every result: word counts against the generator's exact counts,
   operator results by hash against their DuckDB oracle (after the loop);
4. prints diagnostics, writes a run record to ``.bench_work/records/`` and
   prints, as the last line, ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
event log and spans (``tracing.py``), reports the per-layer metrics (medians
over traced rounds), then reruns the workload untraced in a child process to
report the tracing overhead and reconcile the layers with ``job_s_p50``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen
import tracing as tr
import workloads as wl

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "parallel_mapreduce_wordcounting_spark"
DRIVER_HEAP = "2g"
JVM_OPTS = "-XX:-UsePerfData"
COLD_TOKENS = 20_000
MIN_ROUNDS = 3
#: each operator's first call compiles its code; the next round is still
#: slower while the JIT catches up, and the median of MIN_ROUNDS drops it
WARMUP_S = 6.0
# a run must end within 180 s; normally generation takes <5 s, a set-up ~12 s
# and an untraced rerun ~45 s
GENERATE_TIMEOUT_S = 60
SETUP_TIMEOUT_S = 40
RERUN_TIMEOUT_S = 90

END_TO_END = {
    "setup_s": "s",
    "job_s_p50": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "loader.load_table_s": "s",
    "loader.load_table_calls": "count",
    "loader.sink_parquet_s": "s",
    "loader.ship_package_s": "s",
    "build.s": "s",
    "build.spark_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "map.tasks": "count",
    "map.run_s": "s",
    "map.cpu_s": "s",
    "map.gc_s": "s",
    "map.records_out": "count",
    "combine.reduction": "ratio",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s",
    "reduce.tasks": "count",
    "reduce.run_s": "s",
    "spill.disk_bytes": "bytes",
    "sched.delay_s": "s",
    "stage.task_skew": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "python.eval_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_out": "count",
    "dedup.verify_yield": "ratio",
    "collect.s": "s",
    "trace.overhead": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (self-tests use a tiny one)")
    p.add_argument("--setup-samples", type=int, default=3)
    p.add_argument("--child", choices=("generate", "setup"), help=argparse.SUPPRESS)
    return p.parse_args(argv)


def cores() -> int:
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def prepare_dirs(work: Path) -> None:
    """Fresh work dirs; every temp file of Python, the JVM and Spark goes here."""
    for sub in ("tmp", "spark-local", "eventlog", "out", "warehouse"):
        shutil.rmtree(work / sub, ignore_errors=True)
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # spark-submit's launcher JVM: no /tmp/hsperfdata file, temp files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_OPTS} -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


class Session:
    """A Spark session with the engine imported; set up once per instance."""

    def __init__(self, work: Path, trace: bool):
        self.work, self.trace = work, trace
        self.spark = self.engine = None
        self.times: dict[str, float] = {}

    def start(self) -> float:
        """Timed cold set-up (excluding the cold call); returns seconds."""
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        k = cores()
        b = (
            SparkSession.builder.master(f"local[{k}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(2 * k))
            .config("spark.driver.memory", DRIVER_HEAP)
            # a fixed, pre-touched heap: otherwise how much of it G1 happens
            # to touch moves peak_rss_mb by up to 10% between runs
            .config(
                "spark.driver.extraJavaOptions",
                f"{JVM_OPTS} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={self.work / 'tmp'}",
            )
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        if self.trace:
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", (self.work / "eventlog").as_uri())
                .config("spark.eventLog.compress", "false")
            )
        t1 = time.perf_counter()
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        sys.path.insert(0, str(ROOT))
        self.engine = importlib.import_module(ENGINE)
        t3 = time.perf_counter()
        ship = getattr(self.engine.sources.loader, "_ship_package", None)
        if ship is not None:
            ship(self.spark)
        t4 = time.perf_counter()
        self.times = {
            "pyspark_import_s": t1 - t0,
            "session_s": t2 - t1,
            "engine_import_s": t3 - t2,
            "ship_package_s": t4 - t3,
        }
        return t4 - t0

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def run_call(sess: Session, tracer: tr.Tracer, call: wl.Call, rnd: int) -> tuple[float, str | None]:
    """One timed engine call; returns (seconds, failure reason or None)."""
    tracer.begin_call(call.key, rnd)
    t0 = time.perf_counter()
    try:
        with tracer.span("build"):
            df = call.build(sess.spark, sess.engine)
        with tracer.span(call.phase):
            out = call.finish(df, sess.engine)
        wall = time.perf_counter() - t0
    except Exception as e:  # a failed call is counted, and the run goes on
        return time.perf_counter() - t0, f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        tracer.end_call()
    tracer.record_catalyst(df, call.key, rnd)
    try:
        return wall, call.check(out)
    except Exception as e:
        return wall, f"check raised {type(e).__name__}: {str(e)[:300]}"


def stock_probe(spark, sf_dir: str) -> float:
    """Stock-PySpark word count (no engine code): a host-noise canary."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .count()
        .orderBy(F.desc("count"), "word")
        .limit(10)
        .collect()
    )
    return time.perf_counter() - t0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MiB."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            status = dict(line.split(":", 1) for line in fh)
        if pid != os.getpid() and status["Name"].strip() != "java":
            raise RuntimeError(f"pid {pid} is {status['Name'].strip()}, not the driver JVM")
        total += int(status["VmHWM"].split()[0])
    return total / 1024


def tail(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples beyond
    it (none below 11 samples), with the sample count."""
    xs, n = sorted(samples), len(samples)
    out = {"n": n, "p50": statistics.median(xs)}
    if n > 10:
        out.update(tail_pct=round(100 * (n - 10) / n, 1), tail_s=xs[n - 11])
    return out


def child(args: argparse.Namespace, timeout: float, *extra: str) -> dict:
    """Run this script in a fresh process and return its last JSON line.

    The child gets its own process group, so on a timeout its JVM and Python
    workers are killed with it; it is always waited for."""
    cmd = [sys.executable, str(Path(__file__)), "--workload", args.workload, "--seed", str(args.seed)]
    cmd += ["--scale", str(args.scale), *extra]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"child {extra} timed out after {timeout:.0f} s") from None
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"child {extra} exited {proc.returncode}: {err[-800:]}")
    return json.loads(lines[-1])


def cold_call(work: Path) -> tuple[wl.Call, gen.Corpus]:
    """The first call of a cold session: wc_topk on a small seed-independent
    corpus, the same for every workload (it is also the stock probe's input)."""
    corpus = gen.lowcard_corpus(work / "inputs", 0, COLD_TOKENS)
    return wl.Call("wc_topk@cold", wl.op("wc_topk", corpus.sf_dir), wl.collect, wl.topk_check(corpus)), corpus


def generate(args: argparse.Namespace, work: Path) -> int:
    """Child mode: build the run's inputs (kept out of the driver's peak RSS)."""
    w = wl.WORKLOADS[args.workload](work, args.seed, args.scale)
    _, cold = cold_call(work)
    gen.prune(work / "inputs", {*w.inputs, Path(cold.sf_dir).name})
    print(json.dumps({"inputs": w.inputs}))
    return 0


def setup_probe(args: argparse.Namespace, work: Path) -> int:
    """Child mode: one timed cold set-up, checked, then exit."""
    call, _ = cold_call(work)
    sess = Session(work, trace=False)
    t = sess.start()
    wall, err = run_call(sess, tr.Tracer(args.workload, False), call, 0)
    sess.stop()
    print(json.dumps({"setup_s": t + wall, "error": err, "stages": sess.times}))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"engine package {ENGINE}/ not found in {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".bench_work"
    prepare_dirs(work)
    if args.child:
        return {"generate": generate, "setup": setup_probe}[args.child](args, work)

    t_gen = time.perf_counter()
    child(args, GENERATE_TIMEOUT_S, "--child", "generate")
    gen_s = time.perf_counter() - t_gen
    w = wl.WORKLOADS[args.workload](work, args.seed, args.scale)
    cold, probe_corpus = cold_call(work)

    failures: list[str] = []
    attempted = 0
    setups: list[float] = []
    setup_detail: list[dict] = []
    for _ in range(args.setup_samples - 1 if not args.trace else 0):
        attempted += 1
        try:
            r = child(args, SETUP_TIMEOUT_S, "--child", "setup")
        except (RuntimeError, json.JSONDecodeError) as e:
            failures.append(f"setup child: {e}")
            continue
        setups.append(r["setup_s"])
        setup_detail.append(r["stages"])
        if r["error"]:
            failures.append(f"setup child cold call: {r['error']}")

    sess = Session(work, trace=bool(args.trace))
    t_setup = sess.start()
    tracer = tr.Tracer(w.name, bool(args.trace), sess.spark)
    attempted += 1
    cold_s, err = run_call(sess, tracer, cold, -1)
    setups.append(t_setup + cold_s)
    setup_detail.append(sess.times)
    if err:
        failures.append(f"{cold.key}: {err}")

    sc = sess.spark.sparkContext
    run_record = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": sess.spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": sess.spark.conf.get("spark.driver.memory"),
        "inputs": w.inputs,
        "generate_s": gen_s,
        "setup": {"samples_s": setups, "stages": setup_detail},
    }

    def one_round(rnd: int) -> dict:
        nonlocal attempted
        load = os.getloadavg()[0]
        calls = []
        for call in w.calls:
            attempted += 1
            wall, err = run_call(sess, tracer, call, rnd)
            calls.append({"key": call.key, "s": wall, "tokens": call.tokens})
            if err:
                failures.append(f"{call.key} (round {rnd}): {err}")
        return {"s": sum(c["s"] for c in calls), "calls": calls, "load1": [load, os.getloadavg()[0]]}

    t_warm = time.perf_counter()
    warmup = [one_round(-1)]
    while time.perf_counter() - t_warm < min(WARMUP_S, args.seconds):
        warmup.append(one_round(-1))
    rounds: list[dict] = []
    probes = [stock_probe(sess.spark, probe_corpus.sf_dir)]
    modules = [m for name, m in sys.modules.items() if name.startswith(ENGINE)]
    t_start = time.perf_counter()
    with tracer.wrapping_load_table(modules):
        while len(rounds) < MIN_ROUNDS or time.perf_counter() - t_start < args.seconds:
            rounds.append(one_round(len(rounds)))
            probes.append(stock_probe(sess.spark, probe_corpus.sf_dir))
    rss = peak_rss_mb([os.getpid(), sess.jvm_pid()])
    app_id = sc.applicationId
    sess.stop()
    for key, reason in w.verify_pending(sess.engine).items():
        failures.append(f"{key}: {reason}")

    round_s = [r["s"] for r in rounds]
    call_s = [c["s"] for r in rounds for c in r["calls"]]
    tokens = sum(c["tokens"] for r in rounds for c in r["calls"])
    run_record.update(
        {
            "warmup_rounds": warmup,
            "rounds": rounds,
            "job_s": tail(round_s),
            "call_s": tail(call_s),
            "tokens_per_s": tokens / sum(round_s) if tokens else None,
            "stock_probe_s": probes,
            "failures": failures,
        }
    )
    if args.trace:
        metrics, err = traced_metrics(args, work, w, tracer, app_id, round_s, run_record)
        if err:
            failures.append(err)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "job_s_p50": statistics.median(round_s),
            # the median round's rate: one slow round moves it no more than job_s_p50
            "queries_per_s": statistics.median(len(r["calls"]) / r["s"] for r in rounds),
            "peak_rss_mb": rss,
        }
        units = END_TO_END

    records = work / "records"
    records.mkdir(exist_ok=True)
    path = records / f"{w.name}-s{args.seed}-t{args.trace}.json"
    path.write_text(json.dumps(run_record, indent=1, default=str))
    for line in failures[:20]:
        print(f"FAILED {line}")
    print(
        f"{w.name} seed={args.seed} {run_record['master']} rounds={len(rounds)} "
        f"job_s={run_record['job_s']} call_s={run_record['call_s']} "
        f"tokens_per_s={run_record['tokens_per_s']} stock_probe_s={[round(p, 3) for p in probes]} "
        f"record={path.relative_to(ROOT)}"
    )
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def traced_metrics(
    args, work: Path, w: wl.Workload, tracer: tr.Tracer, app_id: str, round_s, record
) -> tuple[dict, str | None]:
    """Per-layer medians over the traced rounds, plus overhead vs an untraced rerun."""
    log = tr.read_event_log(tr.event_log_files(work / "eventlog", app_id), w.name)
    per_round = [tr.layer_metrics(log, tracer, r, w.dedup_rows) for r in range(len(round_s))]
    names = [n for n in PER_LAYER if n not in ("loader.ship_package_s", "trace.overhead")]
    metrics = {n: statistics.median(m.get(n, 0.0) for m in per_round) for n in names}
    metrics["loader.ship_package_s"] = record["setup"]["stages"][-1]["ship_package_s"]
    try:
        untraced = child(args, RERUN_TIMEOUT_S, "--seconds", str(args.seconds), "--setup-samples", "1")
    except (RuntimeError, json.JSONDecodeError) as e:
        return metrics | {"trace.overhead": 0.0}, f"untraced rerun: {e}"
    base = untraced["metrics"]["job_s_p50"]["value"]
    traced = statistics.median(round_s)
    metrics["trace.overhead"] = traced / base - 1
    # the layers of a traced round should sum to within 10% of the untraced
    # end-to-end median
    layered = metrics["build.s"] + metrics["collect.s"] + metrics["loader.sink_parquet_s"]
    record["reconcile_ratio"] = layered / base
    record["per_round_layers"] = per_round
    record["per_call_layers"] = {
        f"{w.name}:{c['key']}@{r}": tr.layer_metrics(log, tracer, r, w.dedup_rows, c["key"])
        for r, rd in enumerate(record["rounds"])
        for c in rd["calls"]
    }
    record["untraced_job_s_p50"] = base
    record["tasks_per_stage"] = sorted(
        (rec.key, rec.round, len(rec.tasks), tr.stage_phase(log, rec)) for rec in log.stages.values() if rec.tasks
    )
    record["spans"] = [vars(s) for s in tracer.spans]
    if abs(record["reconcile_ratio"] - 1) > 0.10:
        print(f"WARNING layers sum to {record['reconcile_ratio']:.3f} x untraced job_s_p50 (outside 10%)")
    return metrics, None if untraced["correct"] else "untraced rerun reported failures"


if __name__ == "__main__":
    sys.exit(main())
