"""One benchmark run of the program, in a fresh process.

``python3 child.py <spec.json>`` — run.py writes the spec, starts this
process in its own session, waits for it and reads ``spec["out"]``.

The program is driven through its CLI in process
(``meilisync_spark.cli.main``): a warm-up ``start`` (for trickle it
also builds the index), the timed ``start`` over the drop files, then
repeated ``check`` and ``refresh``. CPU and bytes written are totals over the timed
``start`` for every process of the run (this process, the JVM and any
Python workers), read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_counters(root: int) -> dict[str, float]:
    """CPU seconds (own + reaped children) and ``wchar`` bytes summed
    over the process tree of ``root``."""
    tick = os.sysconf("SC_CLK_TCK")
    cpu = 0.0
    wchar = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            # utime, stime, cutime, cstime are fields 14-17 of stat;
            # after the ")" split they start at index 11
            cpu += sum(int(x) for x in fields[11:15]) / tick
            with open(f"/proc/{p}/io") as fh:
                for line in fh:
                    if line.startswith("wchar:"):
                        wchar += int(line.split()[1])
        except OSError:
            pass  # exited between listing and reading
    return {"cpu_s": cpu, "wchar": wchar}


def host_cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def tree_peak_rss_mb(root: int) -> float:
    total_kb = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class BatchListener:
    """Collects ``StreamingQueryProgress`` per query run and notes when
    each query terminates (progress events arrive asynchronously)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.progress.setdefault(str(p.runId), []).append({
                        "batch_id": p.batchId,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.runId))
                    outer.cond.notify_all()

        self.lock = threading.Lock()
        self.cond = threading.Condition(self.lock)
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()
        self.listener = _L()

    def wait_terminated(self, known: set[str], timeout: float) -> str | None:
        """Wait for a query run not in ``known`` to terminate."""
        deadline = time.monotonic() + timeout
        with self.cond:
            while True:
                new = self.terminated - known
                if new:
                    return sorted(new)[0]
                left = deadline - time.monotonic()
                if left <= 0:
                    return None
                self.cond.wait(left)


def _reps(cli, argv: list[str], n: int) -> tuple[list[float], list]:
    """Run a CLI command ``n`` times: (seconds per call, exit codes). A
    call that raises — e.g. ``check`` on an index a cut-short run never
    wrote — is recorded as a failed call, and the run goes on."""
    secs, rcs = [], []
    for _ in range(n):
        t = time.perf_counter()
        try:
            rcs.append(cli.main(argv))
        except Exception:
            traceback.print_exc()
            rcs.append("raised")
        secs.append(time.perf_counter() - t)
    return secs, rcs


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, spec["program_root"])
    tracer = None
    if spec["trace"]:
        import spans

        tracer = spans.Tracer()

    from meilisync_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    spark.range(1).count()
    t2 = time.perf_counter()
    result: dict = {
        "setup_s": t2 - t0,
        "get_spark_ms": (t1 - t0) * 1e3,
        "first_job_ms": (t2 - t1) * 1e3,
    }

    from meilisync_spark import cli

    if tracer is not None:
        tracer.install(spark)
    listener = BatchListener()
    spark.streams.addListener(listener.listener)
    runs_seen: set[str] = set()
    timeout = str(spec["program_timeout"])
    rcs = {}

    def start(args: list[str], events: str, checkpoint: str) -> tuple[int | str, str | None]:
        argv = ["start", *args, "--events", events,
                "--checkpoint", checkpoint, "--max-files", "1",
                "--timeout", timeout]
        if tracer is not None:
            argv += ["--plugin", "spans.mark_batch"]
        try:
            rc = cli.main(argv)
        except Exception:
            traceback.print_exc()
            rc = "raised"
        run_id = listener.wait_terminated(runs_seen, 30.0)
        if run_id is not None:
            runs_seen.add(run_id)
        return rc, run_id

    phases = {"setup": time.perf_counter() - t0}
    tb = time.perf_counter()
    if tracer is not None:
        tracer.phase = "warmup"
    rcs["warmup"], _ = start(spec["warmup_args"], spec["warmup_events"],
                             spec["warmup_checkpoint"])
    phases["warmup"] = time.perf_counter() - tb
    me = os.getpid()
    if tracer is not None:
        tracer.phase = "timed"
    c0 = tree_counters(me)
    h0 = host_cpu_ticks()
    t0 = time.perf_counter()
    rcs["timed"], run_id = start(spec["start_args"], spec["events"], spec["checkpoint"])
    elapsed = time.perf_counter() - t0
    h1 = host_cpu_ticks()
    c1 = tree_counters(me)
    result.update({
        "timed_s": elapsed,
        "cpu_s": c1["cpu_s"] - c0["cpu_s"],
        "wchar": c1["wchar"] - c0["wchar"],
        "batches": listener.progress.get(run_id, []) if run_id else [],
    })

    phases["timed"] = elapsed
    dh = [b - a for a, b in zip(h0, h1)]
    phases["host_share"] = {k: round(dh[i] / max(sum(dh), 1), 3) for i, k in
                            ((0, "user"), (2, "system"), (3, "idle"), (4, "iowait"), (7, "steal"))}
    phases["batches_ms"] = [b["duration_ms"].get("triggerExecution") for b in result["batches"]]
    tb = time.perf_counter()
    if tracer is not None:
        tracer.phase = "check"
    check_s, rcs["check"] = _reps(
        cli, ["check", "--source", spec["expected"], "--index", spec["index"]],
        spec["check_reps"])
    if tracer is not None:
        tracer.phase = "refresh"
    refresh_s, rcs["refresh"] = _reps(
        cli, ["refresh", "--source", spec["index"], "--index", spec["refreshed"]],
        spec["refresh_reps"])
    phases["check_refresh"] = time.perf_counter() - tb
    result.update({
        "phases": phases,
        "check_s": statistics.median(check_s),
        "refresh_s": statistics.median(refresh_s),
        "rcs": rcs,
        "peak_rss_mb": tree_peak_rss_mb(me),
    })
    spark.streams.removeListener(listener.listener)
    if tracer is not None:
        result["spans"] = tracer.spans
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
