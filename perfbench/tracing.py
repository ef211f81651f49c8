"""Tracing for the benchmark's traced run.

Three sources, joined on ``(key, round)``:

- :class:`Tracer` keeps spans in memory around the benchmark's own calls
  into the engine (``load_table``, the operator fn, ``collect``,
  ``sink_parquet``), tags every Spark job with ``setJobDescription(
  "<workload>:<key>")`` plus the round and phase as local properties, and
  reads each query's Catalyst phase times from
  ``queryExecution().tracker().phases()``;
- :func:`read_event_log` reads Spark's event log (uncompressed; plain file or
  Spark 4's rolling ``eventlog_v2_*/events_*`` layout) into per-call job,
  stage, task and SQL-node metrics, with each stage mapped to a MapReduce
  phase by the plan nodes it ran;
- :func:`layer_metrics` folds both into the per-layer metrics of one round.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

ROUND_PROP = "perfbench.round"
PHASE_PROP = "perfbench.phase"
CATALYST_PHASES = ("analysis", "optimization", "planning")
PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")


@dataclass
class Span:
    name: str  # build | collect | sink | load_table
    key: str
    round: int
    start: float
    end: float
    parent: str | None = None


@dataclass
class Tracer:
    """Spans and Catalyst phases of the benchmark's calls; inert when off."""

    workload: str
    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    catalyst: dict = field(default_factory=dict)  # (key, round) -> {phase: ms}
    _key: str = ""
    _round: int = -1
    _phase: str | None = None

    def begin_call(self, key: str, rnd: int) -> None:
        self._key, self._round = key, rnd
        if self.enabled:
            sc = self.spark.sparkContext
            sc.setJobDescription(f"{self.workload}:{key}")
            sc.setLocalProperty(ROUND_PROP, str(rnd))

    def end_call(self) -> None:
        if self.enabled:
            sc = self.spark.sparkContext
            sc.setJobDescription(None)
            sc.setLocalProperty(ROUND_PROP, None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        outer = self._phase
        if outer is None:
            self.spark.sparkContext.setLocalProperty(PHASE_PROP, name)
            self._phase = name
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, self._key, self._round, t0, time.perf_counter(), outer))
            if outer is None:
                self._phase = None

    def record_catalyst(self, df, key: str, rnd: int) -> None:
        """Add ``df``'s analysis/optimization/planning times (ms) to the call."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        acc = self.catalyst.setdefault((key, rnd), dict.fromkeys(CATALYST_PHASES, 0.0))
        for name in CATALYST_PHASES:
            opt = phases.get(name)
            if opt.isDefined():
                acc[name] += float(opt.get().durationMs())

    @contextmanager
    def wrapping_load_table(self, engine_modules):
        """Patch ``load_table`` in every engine module so its calls are spanned."""
        if not self.enabled:
            yield
            return
        from parallel_mapreduce_wordcounting_spark.sources import loader

        original = loader.load_table

        def load_table(spark, sf_dir, name):
            with self.span("load_table"):
                return original(spark, sf_dir, name)

        patched = [m for m in engine_modules if getattr(m, "load_table", None) is original]
        for m in patched:
            m.load_table = load_table
        try:
            yield
        finally:
            for m in patched:
                m.load_table = original


# ---------------------------------------------------------------- event log


def event_log_files(log_dir: Path, app_id: str) -> list[Path]:
    """The event-log file(s) of ``app_id``, in write order."""
    rolling = log_dir / f"eventlog_v2_{app_id}"
    if rolling.is_dir():
        parts = [p for p in rolling.iterdir() if p.name.startswith("events_")]
        return sorted(parts, key=lambda p: int(p.name.split("_")[1]))
    for name in (app_id, f"{app_id}.inprogress"):
        if (log_dir / name).is_file():
            return [log_dir / name]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


@dataclass
class PlanMetric:
    node: str  # nodeName
    desc: str  # simpleString
    metric: str
    mtype: str  # sum | size | timing | nsTiming | average


@dataclass
class StageRec:
    key: str
    round: int
    phase: str
    submitted: int = 0
    tasks: list[dict] = field(default_factory=list)
    acc_ids: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    """What the traced run's event log says, keyed by the benchmark's calls:
    Spark jobs per ``(key, round)``, stages with their tasks and the SQL
    metric accumulators they updated, and each accumulator's plan node."""

    jobs: dict = field(default_factory=lambda: defaultdict(list))  # (key, rnd) -> [(start, end, phase)]
    stages: dict[tuple[int, int], StageRec] = field(default_factory=dict)
    acc: dict[int, PlanMetric] = field(default_factory=dict)
    acc_total: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    python_inputs: dict[int, int] = field(default_factory=dict)  # py rows acc -> input rows acc


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _call_of(props: dict, workload: str) -> tuple[str, int, str] | None:
    desc = props.get("spark.job.description", "")
    if not desc.startswith(f"{workload}:") or ROUND_PROP not in props:
        return None
    return desc.split(":", 1)[1], int(props[ROUND_PROP]), props.get(PHASE_PROP, "")


def _rows_acc(node: dict) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def _first_rows_below(node: dict) -> int | None:
    for child in node.get("children", []):
        acc = _rows_acc(child)
        if acc is None:
            acc = _first_rows_below(child)
        if acc is not None:
            return acc
    return None


def _index_plan(log: EventLog, node: dict) -> None:
    for m in node.get("metrics", []):
        log.acc[m["accumulatorId"]] = PlanMetric(node["nodeName"], node.get("simpleString", ""), m["name"], m["metricType"])
    if node["nodeName"] in PYTHON_NODES:
        out, inp = _rows_acc(node), _first_rows_below(node)
        if out is not None and inp is not None:
            log.python_inputs[out] = inp
    for child in node.get("children", []):
        _index_plan(log, child)


def read_event_log(files: list[Path], workload: str) -> EventLog:
    log = EventLog()
    job_call: dict[int, tuple[str, int, str]] = {}
    job_start: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    call = _call_of(e.get("Properties") or {}, workload)
                    if call:
                        job_call[e["Job ID"]] = call
                        job_start[e["Job ID"]] = e["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_call:
                        key, rnd, phase = job_call[jid]
                        log.jobs[(key, rnd)].append((job_start[jid], e["Completion Time"], phase))
                elif kind == "SparkListenerStageSubmitted":
                    call = _call_of(e.get("Properties") or {}, workload)
                    if call:
                        info = e["Stage Info"]
                        log.stages[(info["Stage ID"], info["Stage Attempt ID"])] = StageRec(*call)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    rec = log.stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                    if rec:
                        rec.submitted = info.get("Submission Time", 0)
                        # SQL metric values are driver-side running totals, so
                        # a stage reports each accumulator's value so far
                        for a in info.get("Accumulables", []):
                            if not str(a.get("Name", "")).startswith("internal.metrics."):
                                rec.acc_ids.add(a["ID"])
                                log.acc_total[a["ID"]] = max(log.acc_total[a["ID"]], _num(a.get("Value")))
                elif kind == "SparkListenerTaskEnd":
                    rec = log.stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                    if rec is None:
                        continue
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    rec.tasks.append({"launch": ti["Launch Time"], "finish": ti["Finish Time"], **tm})
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _index_plan(log, e["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in e["accumUpdates"]:
                        log.acc_total[acc_id] = max(log.acc_total[acc_id], _num(value))
    return log


def stage_phase(log: EventLog, rec: StageRec) -> str:
    """MapReduce phase of a stage, by the plan nodes whose metrics it updated:
    scan / Generate / partial HashAggregate -> map; final HashAggregate /
    TakeOrderedAndProject / shuffle read -> reduce; anything else -> other."""
    nodes = [log.acc[i] for i in rec.acc_ids if i in log.acc]
    if any(
        n.node.startswith("Scan") or n.node == "Generate" or (n.node == "HashAggregate" and "partial_" in n.desc)
        for n in nodes
    ):
        return "map"
    if any(n.node in ("HashAggregate", "TakeOrderedAndProject", "AQEShuffleRead") for n in nodes):
        return "reduce"
    return "other"


def _to_s(value: float, mtype: str) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total, end = total + (b - a), b
        elif b > end:
            total, end = total + (b - end), b
    return total / 1e3


def layer_metrics(
    log: EventLog,
    tracer: Tracer,
    rnd: int,
    dedup_rows: dict[str, int],
    key: str | None = None,
) -> dict[str, float]:
    """Per-layer metrics of round ``rnd``: sums over the round's calls, or
    over the one call to ``key`` when given."""

    def mine(k: str, r: int) -> bool:
        return r == rnd and key in (None, k)

    m: dict[str, float] = defaultdict(float)
    spans = [s for s in tracer.spans if mine(s.key, s.round)]
    for s in spans:
        d = s.end - s.start
        if s.name == "load_table":
            m["loader.load_table_s"] += d
            m["loader.load_table_calls"] += 1
        elif s.name == "sink":
            m["loader.sink_parquet_s"] += d
        elif s.name in ("build", "collect"):
            m[f"{s.name}.s"] += d
    for (k, r), ph in tracer.catalyst.items():
        if mine(k, r):
            for name in CATALYST_PHASES:
                m[f"catalyst.{name}_ms"] += ph[name]

    exec_intervals = []
    for (k, r), jobs in log.jobs.items():
        if not mine(k, r):
            continue
        m["spark.jobs"] += len(jobs)
        m["build.spark_jobs"] += sum(1 for *_, phase in jobs if phase == "build")
        exec_intervals += [(a, b) for a, b, _ in jobs]
    m["exec.s"] = _union_s(exec_intervals)

    skews = []
    acc_ids: set[int] = set()
    for rec in log.stages.values():
        if not mine(rec.key, rec.round) or not rec.tasks:
            continue
        acc_ids |= rec.acc_ids
        phase = stage_phase(log, rec)
        m["spark.stages"] += 1
        m["spark.tasks"] += len(rec.tasks)
        durs = []
        for t in rec.tasks:
            sr, sw = t.get("Shuffle Read Metrics", {}), t.get("Shuffle Write Metrics", {})
            run_s = t.get("Executor Run Time", 0) / 1e3
            if phase in ("map", "reduce"):
                m[f"{phase}.tasks"] += 1
                m[f"{phase}.run_s"] += run_s
            if phase == "map":
                m["map.cpu_s"] += t.get("Executor CPU Time", 0) / 1e9
                m["map.gc_s"] += t.get("JVM GC Time", 0) / 1e3
                m["map.records_out"] += sw.get("Shuffle Records Written", 0)
            m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["shuffle.records"] += sw.get("Shuffle Records Written", 0)
            m["shuffle.read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            m["spill.disk_bytes"] += t.get("Disk Bytes Spilled", 0)
            m["sched.delay_s"] += max(0, t["launch"] - rec.submitted) / 1e3
            durs.append(t["finish"] - t["launch"])
        if len(durs) >= 2:
            skews.append(max(durs) / max(statistics.median(durs), 1))
    m["stage.task_skew"] = max(skews, default=1.0)

    generated = partial = 0.0
    dedup_rows = {k: n for k, n in dedup_rows.items() if key in (None, k)}
    dedup_acc = {i for rec in log.stages.values() if mine(rec.key, rec.round) and rec.key in dedup_rows for i in rec.acc_ids}
    for i in acc_ids:
        pm, v = log.acc.get(i), log.acc_total.get(i, 0.0)
        if pm is None:
            continue
        if pm.node == "Generate" and pm.metric == "number of output rows":
            generated += v
        elif pm.node == "HashAggregate" and "partial_" in pm.desc and pm.metric == "number of output rows":
            partial += v
        elif pm.node in PYTHON_NODES:
            if pm.metric == "data sent to Python workers":
                m["python.bytes_to_worker"] += v
            elif pm.metric == "data returned from Python workers":
                m["python.bytes_from_worker"] += v
            elif pm.metric == "time to run Python workers":
                m["python.eval_s"] += _to_s(v, pm.mtype)
    for out_acc, in_acc in log.python_inputs.items():
        if out_acc in dedup_acc:
            m["dedup.candidate_pairs"] += log.acc_total.get(in_acc, 0.0)
    m["combine.reduction"] = partial / generated if generated else 0.0
    m["dedup.pairs_out"] = float(sum(dedup_rows.values()))
    cand = m["dedup.candidate_pairs"]
    m["dedup.verify_yield"] = m["dedup.pairs_out"] / cand if cand else 0.0
    return dict(m)
