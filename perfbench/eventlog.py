"""Spark event-log parser and per-layer aggregation.

The traced run enables Spark's own uncompressed, non-rolling event log
(``spark.eventLog.*``) and puts one job group around every timed call. This
module reads that log back and turns it into per-call and per-layer numbers:

- each job is tied to the timed call that fired it, by job group or, for
  jobs Spark runs under its own group (streaming micro-batches), by the
  call whose time window holds the job's submission;
- each job is tied to the repo module that fired it by the Python call site
  Spark records (``callSite.short``, e.g. ``collect at .../report.py:338``);
  jobs with no repo call site belong to the timed call's layer;
- task metrics (run, CPU, GC, deserialize time, shuffle and input bytes)
  roll up to jobs through their stages;
- SQL executions whose plan writes Parquet give the write time.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

PKG = "sales_data_etl_pipeline_spark"

_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLExecutionEnd",
)
_EVENT_RE = re.compile(r'^\{"Event":"(?:[\w.]+\.)?(\w+)"')
_WRITE_NODES = (
    "InsertIntoHadoopFsRelationCommand",
    "CreateDataSourceTableAsSelectCommand",
)


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int = 0
    group: str | None = None
    callsite: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    csv_scan: bool = False
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    deser_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class SqlExec:
    id: int
    start_ms: int
    end_ms: int = 0
    parquet_write: bool = False


@dataclass
class Trace:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    sqls: dict[int, SqlExec] = field(default_factory=dict)


def _stage(trace: Trace, sid: int) -> Stage:
    st = trace.stages.get(sid)
    if st is None:
        st = trace.stages[sid] = Stage(sid)
    return st


def parse(lines) -> Trace:
    """Parse event-log lines (an open file or any iterable of str)."""
    trace = Trace()
    for line in lines:
        m = _EVENT_RE.match(line)
        if not m or m.group(1) not in _WANTED:
            continue
        kind = m.group(1)
        e = json.loads(line)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            trace.jobs[e["Job ID"]] = Job(
                id=e["Job ID"],
                submit_ms=e["Submission Time"],
                group=props.get("spark.jobGroup.id"),
                callsite=props.get("callSite.short"),
                stage_ids=list(e.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = trace.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = _stage(trace, info["Stage ID"])
            st.csv_scan = any(
                '"name":"Scan csv' in (r.get("Scope") or "")
                for r in info.get("RDD Info") or []
            )
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            if not tm:
                continue
            st = _stage(trace, e["Stage ID"])
            st.tasks += 1
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.deser_ms += tm.get("Executor Deserialize Time", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == "SparkListenerSQLExecutionStart":
            plan = e.get("physicalPlanDescription") or ""
            trace.sqls[e["executionId"]] = SqlExec(
                id=e["executionId"],
                start_ms=e["time"],
                parquet_write=any(n in plan for n in _WRITE_NODES)
                and ("Parquet" in plan or "parquet" in plan),
            )
        elif kind == "SparkListenerSQLExecutionEnd":
            sql = trace.sqls.get(e["executionId"])
            if sql is not None:
                sql.end_ms = e["time"]
    return trace


def parse_file(path: str) -> Trace:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def callsite_module(callsite: str | None) -> str | None:
    """``collect at /x/sales_data_etl_pipeline_spark/operators/dedup.py:12``
    → ``operators.dedup``; None when the site is not in the package."""
    if not callsite:
        return None
    m = re.search(PKG + r"/([\w/]+)\.py:\d+", callsite)
    return m.group(1).replace("/", ".") if m else None


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@dataclass
class Call:
    """One timed call into the program.

    ``t0`` → ``t1`` is the call into the program's public function and
    ``t1`` → ``t2`` the benchmark's own action on its result (``t1 == t2``
    when the function runs its own actions, ``self_acting``). Times are
    wall-clock seconds, the clock the event log uses.
    """

    id: str
    name: str
    layer: str
    pass_no: int
    t0: float
    t1: float
    t2: float
    self_acting: bool = False
    tables_s: float = 0.0

    @property
    def wall(self) -> float:
        return self.t2 - self.t0

    def action_window(self) -> tuple[float, float]:
        return (self.t0, self.t2) if self.self_acting else (self.t1, self.t2)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def assign_jobs(trace: Trace, calls: list[Call]) -> dict[str, list[Job]]:
    """Map call id → jobs it fired: by job group first, then by the call
    whose [t0, t2] window holds the job's submission time."""
    by_id = {c.id: c for c in calls}
    out: dict[str, list[Job]] = {c.id: [] for c in calls}
    windows = sorted((c.t0, c.t2, c.id) for c in calls)
    for job in trace.jobs.values():
        if job.group in by_id:
            out[job.group].append(job)
            continue
        t = job.submit_ms / 1000.0
        for lo, hi, cid in windows:
            if lo <= t <= hi:
                out[cid].append(job)
                break
    return out


#: Layers the per-layer metrics name. A job whose call site is in another
#: repo module (a plan helper, say) counts toward the timed call's layer.
LAYERS = (
    "sources.csv", "sources.parquet", "sources.tables", "plans.pipeline",
    "plans.analytics", "report", "operators.dedup", "operators.similarity",
    "operators.text", "operators.corpus", "streaming.events",
)


def per_pass_metrics(trace: Trace, calls: list[Call], csv_bytes_on_disk: int) -> dict:
    """Per-layer metrics of one pass (``calls`` all belong to it)."""
    jobs_of = assign_jobs(trace, calls)
    stage_job: dict[int, int] = {}
    for job in sorted(trace.jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.id)

    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    spark_keys = (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "deser_ms", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    )
    for k in spark_keys:
        m["spark." + k] = 0.0
    covered_sum = window_sum = 0.0
    csv_scan_bytes = 0
    parquet_out = 0
    write_sqls: set[int] = set()
    for call in calls:
        jobs = jobs_of[call.id]
        if call.self_acting:
            act = _covered([(j.submit_ms / 1e3, j.end_ms / 1e3) for j in jobs], call.t0, call.t2)
            build = call.wall - act
        else:
            build, act = call.t1 - call.t0, call.t2 - call.t1
        add(f"{call.layer}.build_s", build)
        add(f"{call.layer}.action_s", act)
        add("sources.tables.build_s", call.tables_s)
        lo, hi = call.action_window()
        cov = _covered([(j.submit_ms / 1e3, j.end_ms / 1e3) for j in jobs], lo, hi)
        covered_sum += cov
        window_sum += hi - lo
        for job in jobs:
            site = callsite_module(job.callsite)
            layer = site if site in LAYERS else call.layer
            stages = [trace.stages[s] for s in job.stage_ids
                      if s in trace.stages and stage_job.get(s) == job.id and trace.stages[s].tasks]
            add(f"{layer}.jobs", 1)
            add(f"{layer}.tasks", sum(s.tasks for s in stages))
            add(f"{layer}.executor_run_ms", sum(s.run_ms for s in stages))
            add("spark.jobs", 1)
            add("spark.stages", len(stages))
            for s in stages:
                add("spark.tasks", s.tasks)
                add("spark.executor_run_ms", s.run_ms)
                add("spark.executor_cpu_ms", s.cpu_ns / 1e6)
                add("spark.gc_ms", s.gc_ms)
                add("spark.deser_ms", s.deser_ms)
                add("spark.shuffle_write_bytes", s.shuffle_write_bytes)
                add("spark.shuffle_read_bytes", s.shuffle_read_bytes)
                add("spark.input_bytes", s.input_bytes)
                parquet_out += s.output_bytes
                if s.csv_scan:
                    csv_scan_bytes += s.input_bytes
        t0_ms, t2_ms = call.t0 * 1e3, call.t2 * 1e3
        for sql in trace.sqls.values():
            if sql.parquet_write and t0_ms <= sql.start_ms <= t2_ms and sql.id not in write_sqls:
                write_sqls.add(sql.id)
                add("sources.parquet.write_s", (sql.end_ms - sql.start_ms) / 1e3)
    m["sources.csv.scan_bytes"] = float(csv_scan_bytes)
    m["sources.csv.scans_per_run"] = csv_scan_bytes / csv_bytes_on_disk if csv_bytes_on_disk else 0.0
    m["sources.parquet.output_bytes"] = float(parquet_out)
    m["spark.job_covered_ratio"] = covered_sum / window_sum if window_sum else 0.0
    m["spark.driver_uncovered_s"] = window_sum - covered_sum
    # report's own split: its jobs' wall time vs the rendering self time
    m["report.render_s"] = m.get("report.build_s", 0.0)
    for key in [k for k in m if k.endswith(".tasks") and not k.startswith("spark.")]:
        layer = key[: -len(".tasks")]
        jobs = m.get(f"{layer}.jobs", 0.0)
        m[f"{layer}.tasks_per_job"] = m.pop(key) / jobs if jobs else 0.0
    return m
