"""Tracing for the traced run: spans around calls into the program's
layers, and the per-layer split read back from Spark's event log.

The program is not changed. :class:`Tracer` replaces the public
functions the pipeline and the CLI look up at call time with wrappers
that record a span (name, start, end, parent, batch id) and label the
Spark jobs they start with the ``perfbench.span`` local property. The
streaming query's own job group stays in place, so stopping the query
still cancels its jobs. ``mark_batch`` is a ``--plugin`` pre-hook: the
pipeline calls it once per micro-batch, at the start of the batch's
apply. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time

SPAN_PROP = "perfbench.span"

_active: "Tracer | None" = None


def mark_batch(df):
    """``--plugin`` pre-hook: marks the start of a micro-batch's apply."""
    if _active is not None:
        _active.mark()
    return df


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.marks: dict[str, int] = {}
        self._phase = "setup"
        self._stack: list[int] = []
        self._sc = None

    @property
    def phase(self) -> str:
        return self._phase

    @phase.setter
    def phase(self, name: str) -> None:
        self._phase = name
        self._sc.setLocalProperty(SPAN_PROP, name)

    def mark(self) -> None:
        n = self.marks.get(self._phase, 0)
        self.marks[self._phase] = n + 1
        self.spans.append({"name": "batch.mark", "phase": self._phase,
                           "batch": n, "start": time.time(), "end": time.time(),
                           "parent": None})

    def _batch(self) -> int | None:
        n = self.marks.get(self._phase)
        return None if n is None else n - 1

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sc = self._sc
            prev = sc.getLocalProperty(SPAN_PROP)
            idx = len(self.spans)
            span = {"name": name, "phase": self._phase, "batch": self._batch(),
                    "parent": self._stack[-1] if self._stack else None,
                    "start": time.time(), "end": None}
            self.spans.append(span)
            self._stack.append(idx)
            sc.setLocalProperty(SPAN_PROP, f"{self._phase}/{name}")
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                self._stack.pop()
                sc.setLocalProperty(SPAN_PROP, prev)
            if after is not None:
                span.update(after(args, kwargs, out))
            return out

        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        global _active
        from meilisync_spark import cli
        from meilisync_spark.operators import bucketed
        from meilisync_spark.progress import FileProgress
        from meilisync_spark.streaming import pipeline

        self._sc = spark.sparkContext
        self.phase = self._phase
        self.wrap(bucketed, "apply_changes_bucketed", "bucketed.apply",
                  after=_bucket_facts)
        self.wrap(pipeline, "refresh_data", "pipeline.refresh_data")
        self.wrap(FileProgress, "set", "progress.set")
        self.wrap(cli, "count_check", "check")
        self.wrap(cli, "refresh_data", "refresh")
        _active = self


def _bucket_facts(args, kwargs, touched) -> dict:
    index_path = args[1] if len(args) > 1 else kwargs["index_path"]
    files = 0
    for b in touched:
        d = os.path.join(index_path, f"bucket={b}")
        if os.path.isdir(d):
            files += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return {"buckets_touched": len(touched), "files_written": files}


# --- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their span label and streaming batch id), and per-stage
    task totals, from the one application log in ``log_dir``."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application event log in {log_dir}, got {apps}")
    # a rolling log: events_<n>_<app> files, read in order of n
    parts = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    pinned: set[int] = set()  # stages that read a localCheckpoint'ed frame
    for line in _lines(parts):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "id": jid,
                "submit": ev["Submission Time"] / 1e3,
                "end": None,
                "label": props.get(SPAN_PROP) or "",
                "batch": (int(props["streaming.sql.batchId"])
                          if "streaming.sql.batchId" in props else None),
                "stages": ev["Stage IDs"],
            }
            for s in ev["Stage IDs"]:
                stage_job.setdefault(s, jid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if any(r.get("Name") == "LocalCheckpointRDD" for r in info.get("RDD Info", [])):
                pinned.add(info["Stage ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {
                "tasks": 0, "cpu_ns": 0, "shuffle_write": 0, "spill": 0})
            m = ev.get("Task Metrics") or {}
            st["tasks"] += 1
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0))
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
        st["reads_pin"] = sid in pinned
    return {"jobs": jobs, "stages": stages}


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as fh:
            yield from fh


def _job_totals(log: dict, job_ids: set[int]) -> dict:
    tot = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "cpu_ns": 0,
           "shuffle_write": 0, "spill": 0}
    for st in log["stages"].values():
        if st["job"] in job_ids:
            tot["stages"] += 1
            for k in ("tasks", "cpu_ns", "shuffle_write", "spill"):
                tot[k] += st[k]
    return tot


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(child: dict, log: dict, facts: dict, reps: dict) -> dict:
    """Per-layer numbers of the timed phase (medians per batch) and of
    the check / refresh reps."""
    batches = sorted(child["batches"], key=lambda b: b["batch_id"])
    spans = [s for s in child["spans"] if s["phase"] == "timed"]
    apply = {s["batch"]: s for s in spans if s["name"] == "bucketed.apply"}
    publish = {s["batch"]: s for s in spans if s["name"] == "progress.set"}
    timed_jobs = [j for j in log["jobs"].values()
                  if j["label"].split("/")[0] == "timed" and j["end"] is not None]
    by_batch: dict[int, list[dict]] = {}
    for j in timed_jobs:
        if j["batch"] is not None:
            by_batch.setdefault(j["batch"], []).append(j)

    per = {k: [] for k in (
        "jobs", "stages", "tasks", "cpu_ms", "shuffle_write", "gap_ms",
        "apply_ms", "apply_jobs", "apply_tasks", "files", "touched",
        "normalize_ms", "compaction_shuffle", "publish_ms", "publish_jobs",
        "coverage")}
    spill = 0
    for b in batches:
        bid = b["batch_id"]
        d = b["duration_ms"]
        jobs = by_batch.get(bid, [])
        ids = {j["id"] for j in jobs}
        tot = _job_totals(log, ids)
        spill += tot["spill"]
        per["jobs"].append(tot["jobs"])
        per["stages"].append(tot["stages"])
        per["tasks"].append(tot["tasks"])
        per["cpu_ms"].append(tot["cpu_ns"] / 1e6)
        per["shuffle_write"].append(tot["shuffle_write"])
        per["gap_ms"].append(max(
            0.0, d.get("addBatch", 0) - _union_ms([(j["submit"], j["end"]) for j in jobs])))
        covered = sum(d.get(k, 0) for k in (
            "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"))
        a = apply.get(bid)
        if a is not None:
            ajobs = sorted((j for j in jobs if j["label"].endswith("/bucketed.apply")),
                           key=lambda j: j["id"])
            aids = {j["id"] for j in ajobs}
            atot = _job_totals(log, aids)
            per["apply_ms"].append((a["end"] - a["start"]) * 1e3)
            per["apply_jobs"].append(atot["jobs"])
            per["apply_tasks"].append(atot["tasks"])
            per["files"].append(a.get("files_written", 0))
            per["touched"].append(a.get("buckets_touched", 0))
            if ajobs:
                per["normalize_ms"].append((ajobs[0]["end"] - ajobs[0]["submit"]) * 1e3)
                # the compaction's map side (plus the tiny distinct-bucket
                # list): the apply's stages that read the pinned batch
                per["compaction_shuffle"].append(sum(
                    st["shuffle_write"] for st in log["stages"].values()
                    if st["job"] in aids and st["reads_pin"]))
            covered += (a["end"] - a["start"]) * 1e3
            p = publish.get(bid)
            if p is not None:
                pub_ms = (p["end"] - a["end"]) * 1e3
                per["publish_ms"].append(pub_ms)
                per["publish_jobs"].append(sum(
                    1 for j in jobs if j["label"] == "timed" and j["submit"] >= a["end"]))
                covered += pub_ms
            else:
                per["publish_ms"].append(0.0)
                per["publish_jobs"].append(0)
        if d.get("triggerExecution"):
            per["coverage"].append(covered / d["triggerExecution"])

    def phase_jobs(label: str) -> set[int]:
        return {j["id"] for j in log["jobs"].values() if j["label"] == label}

    check = _job_totals(log, phase_jobs("check"))
    refresh = _job_totals(log, phase_jobs("refresh/refresh"))
    dur = lambda k: _med(b["duration_ms"].get(k, 0) for b in batches)  # noqa: E731
    comp = [dp / max(c, 1) for dp, c in zip(facts["distinct_pks_per_file"],
                                            facts["consumed_per_file"])]
    return {
        "session.get_spark_ms": child["get_spark_ms"],
        "session.first_job_ms": child["first_job_ms"],
        "pipeline.batches": len(batches),
        "pipeline.latestOffset_ms": dur("latestOffset"),
        "pipeline.getBatch_ms": dur("getBatch"),
        "pipeline.queryPlanning_ms": dur("queryPlanning"),
        "pipeline.addBatch_ms": dur("addBatch"),
        "pipeline.walCommit_ms": dur("walCommit"),
        "pipeline.commitOffsets_ms": dur("commitOffsets"),
        "pipeline.driver_gap_ms": _med(per["gap_ms"]),
        "bucketed.apply_ms": _med(per["apply_ms"]),
        "bucketed.buckets_touched": _med(per["touched"]),
        "bucketed.jobs": _med(per["apply_jobs"]),
        "bucketed.tasks": _med(per["apply_tasks"]),
        "bucketed.files_written": _med(per["files"]),
        "sources.normalize_ms": _med(per["normalize_ms"]),
        "sources.rows_in": _med(facts["rows_in_per_file"]),
        "sources.rows_out": _med(facts["consumed_per_file"]),
        "compaction.ratio": _med(comp),
        "compaction.shuffle_write_bytes": _med(per["compaction_shuffle"]),
        "progress.publish_ms": _med(per["publish_ms"]),
        "progress.jobs": _med(per["publish_jobs"]),
        "spark.jobs_per_batch": _med(per["jobs"]),
        "spark.stages_per_batch": _med(per["stages"]),
        "spark.tasks_per_batch": _med(per["tasks"]),
        "spark.shuffle_write_bytes_per_batch": _med(per["shuffle_write"]),
        "spark.task_cpu_ms_per_batch": _med(per["cpu_ms"]),
        "spark.spill_bytes": float(spill),
        "check.jobs": check["jobs"] / reps["check"],
        "check.tasks": check["tasks"] / reps["check"],
        "refresh.jobs": refresh["jobs"] / reps["refresh"],
        "trace.span_coverage": _med(per["coverage"]),
        "trace.batch_p50_ms": dur("triggerExecution"),
    }


def layer_unit(name: str) -> str:
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if "bytes" in name:
        return "B"
    if name in ("compaction.ratio", "trace.span_coverage"):
        return "ratio"
    return "count"
