"""Spark-side probes for the traced run. Each layer is measured from outside:
job groups set around calls into the layer, the scheduler's job-ID counter,
Spark's status store for stage metrics, and a ``StreamingQueryListener`` for
micro-batches (stream jobs run on their own thread, so job groups miss them).
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from types import SimpleNamespace

from pyspark.sql.streaming import StreamingQueryListener

from stats import Span, attribute_jobs, self_time

GROUP_PROP = "spark.jobGroup.id"

#: stage metrics summed per operation, as (metric, StageData getter, scale)
STAGE_FIELDS = [
    ("exec.run_s", "executorRunTime", 1e-3),
    ("exec.cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("exec.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("exec.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("exec.spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("exec.input_mb", "inputBytes", 1 / 2**20),
]


class Tracer:
    """Spans kept in memory; written out when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, self.op_id, parent)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()


class Jobs:
    """Job counting and attribution through the driver's scheduler and
    status store."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()

    def next_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until every queued listener event (job ends, stream
        progress) has been delivered."""
        self._jsc.listenerBus().waitUntilEmpty()

    def in_group(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def group(self, name: str):
        """Set the job group for jobs launched from this thread, then
        restore the caller's group."""
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    def stage_ids(self, job_ids) -> set[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                out.update(int(s) for s in info.stageIds)
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Executor metrics summed over the last attempt of each stage, plus
        stage and task counts (skipped stages ran no tasks)."""
        store = self._jsc.statusStore()
        tot = {k: 0.0 for k, _, _ in STAGE_FIELDS}
        tot["stages"] = tot["tasks"] = 0
        for sid in stage_ids:
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            if str(d.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += d.numTasks()
            for key, getter, scale in STAGE_FIELDS:
                tot[key] += getattr(d, getter)() * scale
        return tot


class StreamProbe(StreamingQueryListener):
    """Per-operation micro-batch counters from query progress events."""

    def __init__(self):
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> dict:
        with self._lock:
            prev = getattr(self, "_cur", None)
            self._cur = {
                "run_ids": set(),
                "streaming.batches": 0,
                "streaming.input_rows": 0,
                "streaming.trigger_s": 0.0,
                "streaming.commit_s": 0.0,
                "streaming.watermark_dropped_rows": 0,
                "_state_rows": {},
                "_state_mem": {},
            }
        return prev

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._cur["run_ids"].add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        with self._lock:
            c = self._cur
            c["run_ids"].add(str(p.runId))
            c["streaming.batches"] += 1
            c["streaming.input_rows"] += p.numInputRows
            c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            c["streaming.commit_s"] += (
                d.get("commitOffsets", 0) + d.get("walCommit", 0)
            ) / 1e3
            ops = p.stateOperators
            c["streaming.watermark_dropped_rows"] += sum(
                o.numRowsDroppedByWatermark for o in ops
            )
            rid = str(p.runId)
            c["_state_rows"][rid] = sum(o.numRowsTotal for o in ops)
            c["_state_mem"][rid] = max(
                c["_state_mem"].get(rid, 0),
                sum(o.memoryUsedBytes for o in ops),
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    @staticmethod
    def finish(c: dict) -> dict:
        """Counters of one operation: state rows are the last batch's
        total per stream query, state memory its peak, both summed over
        the operation's stream queries."""
        out = {k: v for k, v in c.items() if k.startswith("streaming.")}
        out["streaming.state_rows"] = sum(c["_state_rows"].values())
        out["streaming.state_mem_mb"] = sum(c["_state_mem"].values()) / 2**20
        out["run_ids"] = c["run_ids"]
        return out




#: names bound in pipeline_job's namespace -> the layer span each call gets
PIPELINE_STAGES = {
    "synthetic_fundamentals": "sources.fixtures.fetch",
    "valuation_pipeline": "plans.pipeline.build",
    "write_single_csv": "operators.output.write",
    "ship": "sources.sinks.ship",
}


def wrap_pipeline_stages(module, probe):
    """Replace the stage functions ``pipeline_job`` calls with wrappers that
    run each call inside ``probe.layer``: a span, and a job group named after
    the layer and operation. Returns a function that puts the originals back."""
    originals = {name: getattr(module, name) for name in PIPELINE_STAGES}

    def wrap(fn, layer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with probe.layer(layer):
                return fn(*args, **kwargs)

        return wrapper

    for name, layer in PIPELINE_STAGES.items():
        setattr(module, name, wrap(originals[name], layer))

    def restore():
        for name, fn in originals.items():
            setattr(module, name, fn)

    return restore


def jvm_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the driver/executor JVM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def bytes_under(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class TracedProbe:
    """Instrumentation for the traced operations of a ``--trace 1`` run.

    run.py writes each operation once: its body runs inside
    ``probe.operation(...)`` and its calls into layers inside
    ``probe.layer(...)``. The untraced probe makes both a bare clock. This one
    gives each layer call a span and a job group, and when the operation has
    ended, and its clock has stopped, builds the operation's record from the
    spans, the job-ID delta, stage data and stream progress."""

    def __init__(self, spark, pipeline_module):
        self.spark = spark
        self.pipeline_module = pipeline_module
        self.jobs = Jobs(spark.sparkContext)
        self.tracer = Tracer()
        self.stream = StreamProbe()
        self.records: list[dict] = []  # one per traced operation
        self._groups: dict[str, str] = {}
        self._restore = None

    def activate(self, on: bool) -> None:
        """Install the listener and pipeline wrappers for a traced pass,
        remove them for an untraced one."""
        streams = self.spark.streams
        if on and self._restore is None:
            streams.addListener(self.stream)
            self._restore = wrap_pipeline_stages(self.pipeline_module, self)
        elif not on and self._restore is not None:
            streams.removeListener(self.stream)
            self._restore()
            self._restore = None

    @contextmanager
    def layer(self, name: str):
        """A span around a call into layer ``name``, whose jobs go to the
        group ``name#<operation>``."""
        group = f"{name}#{self.tracer.op_id}"
        self._groups[name] = group
        with self.tracer.span(name), self.jobs.group(group):
            yield

    @contextmanager
    def operation(self, op_id: int, name: str, out_dir: str | None = None):
        """One operation, traced as the layer ``name``. Yields an object
        whose ``latency`` is set when the operation ends. A pipeline call
        sets its ``csv``, against which the bytes written under ``out_dir``
        are counted."""
        self.tracer.op_id = op_id
        self.stream.reset()
        self._groups = {}
        first = self.jobs.next_id()
        root = len(self.tracer.spans)
        op = SimpleNamespace(latency=0.0, csv=None)
        # the root's job group is set outside its span, so that the span
        # holds only the operation: its layer spans then add up to it
        self._groups[name] = f"{name}#{op_id}"
        with self.jobs.group(self._groups[name]), self.tracer.span(name):
            yield op
        spans = self.tracer.spans
        op.latency = spans[root].dur
        rec = {"kind": name, "op_s": op.latency, "self_s": self_time(spans, root)}
        for s in spans[root + 1 :]:
            rec[s.name + "_s"] = rec.get(s.name + "_s", 0.0) + s.dur
        rec.update(self._counters(first))
        if out_dir is not None and op.csv is not None:
            rec["bytes_ratio"] = bytes_under(out_dir) / os.path.getsize(op.csv)
        self.records.append(rec)

    def _counters(self, first_job: int) -> dict:
        """Job, stage and stream counters of the operation that started at
        job ``first_job``."""
        self.jobs.drain()  # job ends and stream progress are asynchronous
        ids = list(range(first_job, self.jobs.next_id()))
        st = StreamProbe.finish(self.stream.reset())
        claimed = {k: self.jobs.in_group(g) for k, g in self._groups.items()}
        claimed["streaming"] = set().union(
            *(self.jobs.in_group(r) for r in st.pop("run_ids"))
        )
        counts, unattributed = attribute_jobs(ids, claimed)
        rec = {"jobs": len(ids), "unattributed_jobs": unattributed, **st}
        rec.update({f"{k}_jobs": v for k, v in counts.items()})
        rec.update(self.jobs.stage_totals(self.jobs.stage_ids(ids)))
        action_ids = claimed.get("action", set()) & set(ids)
        act = self.jobs.stage_totals(self.jobs.stage_ids(action_ids))
        rec["action_stages"], rec["action_tasks"] = act["stages"], act["tasks"]
        return rec


def _mean(recs, key) -> float:
    return sum(r.get(key, 0.0) for r in recs) / len(recs) if recs else 0.0


def per_layer_metrics(
    names: list[str], recs: list[dict], setup: dict, run: dict, cores: int
) -> dict:
    """Every per-layer metric in ``names`` (0 where the workload does not
    exercise the layer), from the traced operations' records; times and
    counts are means per operation of the kind the layer serves."""
    import statistics

    from stats import pass_time, tail

    qs = [r for r in recs if r["kind"] == "query"]
    pl = [r for r in recs if r["kind"] == "pipeline_job"]
    st = [r for r in qs if r["streaming.batches"] > 0]
    xs = [dt for _, dt in run["samples"]]
    pct, tail_s = tail(xs)
    if pct is None:  # fewer than 11 samples: report the slowest one
        pct, tail_s = 100, max(xs)
    m = dict.fromkeys(names, 0.0)
    m.update(setup)
    m["jvm.peak_rss_mb"] = run["jvm_peak_rss_mb"]
    m["ops.samples"] = len(xs)
    m["ops.p50_s"] = statistics.median(xs)
    m["ops.failed_frac"] = run["failed_total"] / max(1, run["attempted"])
    m["ops.tail_pct"] = pct
    m["ops.tail_s"] = tail_s
    m["trace.overhead_s"] = pass_time(run["lat"]["traced"]) - pass_time(
        run["lat"]["untraced"]
    )
    if qs:
        m["queries.construct_s"] = _mean(qs, "queries.construct_s")
        m["queries.construct_jobs"] = _mean(qs, "queries.construct_jobs")
        m["queries.construct_share"] = sum(
            r["queries.construct_s"] for r in qs
        ) / sum(r["op_s"] for r in qs)
        m["queries.split_residual_ms"] = 1e3 * max(
            abs(r["op_s"] - r["queries.construct_s"] - r["action_s"]) for r in qs
        )
        m["action.action_s"] = _mean(qs, "action_s")
        m["action.jobs"] = _mean(qs, "action_jobs")
        m["action.stages"] = _mean(qs, "action_stages")
        m["action.tasks"] = _mean(qs, "action_tasks")
    m["queries.unattributed_jobs"] = _mean(recs, "unattributed_jobs")
    for k, _, _ in STAGE_FIELDS:
        m[k] = _mean(recs, k)
    if recs:
        m["exec.slot_util"] = sum(r["exec.run_s"] for r in recs) / (
            cores * sum(r["op_s"] for r in recs)
        )
    if st:
        m["streaming.jobs"] = _mean(st, "streaming_jobs")
        for k in (
            "streaming.batches",
            "streaming.input_rows",
            "streaming.trigger_s",
            "streaming.commit_s",
            "streaming.state_rows",
            "streaming.state_mem_mb",
            "streaming.watermark_dropped_rows",
        ):
            m[k] = _mean(st, k)
        m["streaming.non_drain_s"] = (
            _mean(st, "queries.construct_s") - m["streaming.trigger_s"]
        )
    if pl:
        for layer in PIPELINE_STAGES.values():
            m[layer + "_s"] = _mean(pl, layer + "_s")
        m["operators.output.write_jobs"] = _mean(pl, "operators.output.write_jobs")
        m["pipeline_job.self_s"] = _mean(pl, "self_s")
        m["pipeline_job.jobs"] = _mean(pl, "jobs")
        m["pipeline_job.bytes_written_per_csv_byte"] = _mean(pl, "bytes_ratio")
    return m
