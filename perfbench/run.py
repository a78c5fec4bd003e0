"""Benchmark of the CDC sync path (``meilisync_spark`` ``start`` loop).

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 30 --trace 0

Workloads (see DESIGN.md for sizes, key distributions and the mapping
from per-layer to end-to-end metrics):

- ``trickle``: steady-state tailing. Small fixture-shaped parquet drop
  files into a 64-bucket index much larger than a batch, through
  ``start --config`` (one ``full: true`` sync, file progress store).
- ``envelope_backfill``: catch-up from a few large wal2json v1 text
  files with Zipf-skewed keys into a fresh index, through
  ``start --envelope wal2json --source-format text``.

Both are closed loops: ``--max-files 1``, so one drop file is one
micro-batch and the next batch starts when the last one commits. The
seed fixes the inputs; ``--seconds`` fixes their size.

Every run is gated: the number of committed batches must equal the
number of staged files, the final index must equal a DuckDB oracle, the
published progress head must equal the last event id (trickle), and
every ``check`` / ``refresh`` must succeed. Each mismatch counts as a
failed operation; a run with any failure prints ``"correct": false``
and exits 1. The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = "4"
DRIVER_MEM = "1g"
CHECK_REPS = 5
REFRESH_REPS = 5
# drop files run by the start before the timed one, so the timed start
# finds the JIT-compiled code paths it needs; with a cold JVM the batch
# latency falls for ~8 batches, and how fast it falls follows the host
TRICKLE_WARMUP_FILES = 3
ENVELOPE_WARMUP_FILES = 2
# far above the ~25 s a timed start takes; RUN_LIMIT_S bounds the whole
# run process, so a hung run still ends well inside 180 s
PROGRAM_TIMEOUT_S = 100.0
RUN_LIMIT_S = 150

# input size per second of --seconds: at 20 s a run takes ~55-60 s on a
# 4-core host
TRICKLE_USERS = 20_000
TRICKLE_EVENTS_PER_FILE = 400
TRICKLE_FILES_PER_S = 0.4
ENVELOPE_FILES = 6
ENVELOPE_CHANGES_PER_S = 1_500
ENVELOPE_MAX_CHANGES = 8
ENVELOPE_REPEATS_PER_KEY = 40
ENVELOPE_ZIPF_S = 0.8

WORKLOADS = ("trickle", "envelope_backfill")
TAIL_RANK = 0.9


def nearest_rank(xs: list[float], q: float) -> float:
    s = sorted(xs)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def _env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # keep the JVM's temp files and perf data inside the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PERFBENCH_WORK": work,
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell")
    return env


def _tagged_pids(work: str) -> list[int]:
    """Live processes of ours whose environment carries ``work``."""
    tag = f"PERFBENCH_WORK={work}".encode()
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) == os.getpid():
            continue
        try:
            with open(f"/proc/{p}/environ", "rb") as fh:
                if tag in fh.read().split(b"\0"):
                    out.append(int(p))
        except OSError:
            pass
    return out


def wait_gone(work: str, grace: float = 60.0) -> None:
    """Wait until every process started for ``work`` (the JVMs too) has
    exited; kill what is left after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        pids = _tagged_pids(work)
        if not pids:
            return
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.1)


def run_child(spec: dict, work: str, trace: bool) -> dict:
    spec_path = os.path.join(work, "run.spec.json")
    spec["out"] = os.path.join(work, "run.out.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log = os.path.join(work, "run.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=work, env=_env(work, trace), stdout=lf, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    wait_gone(work)
    if rc != 0 or not os.path.exists(spec["out"]):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"run process failed (rc={rc}):\n{tail}")
    with open(spec["out"]) as fh:
        return json.load(fh)


def prepare(workload: str, seed: int, seconds: int, work: str) -> tuple[dict, dict]:
    """Render the inputs and the oracle's expected index; return the
    spec for the child process and the input facts."""
    inputs = os.path.join(work, "inputs")
    expected = os.path.join(work, "expected.parquet")
    spec = {
        "program_root": ROOT,
        "check_reps": CHECK_REPS,
        "refresh_reps": REFRESH_REPS,
        "refreshed": os.path.join(work, "refreshed"),
        "expected": expected,
        "checkpoint": os.path.join(work, "ckpt"),
        "warmup_checkpoint": os.path.join(work, "ckpt_warmup"),
    }
    if workload == "trickle":
        facts = gen.gen_trickle(
            inputs, seed, users=TRICKLE_USERS, warmup=TRICKLE_WARMUP_FILES,
            files=max(2, round(seconds * TRICKLE_FILES_PER_S)),
            events_per_file=TRICKLE_EVENTS_PER_FILE)
        facts["docs"] = oracle.trickle_expected(
            [*facts["warmup_files"], *facts["drop_files"]], expected)
        cfg = os.path.join(work, "config.yml")
        index_root = os.path.join(work, "indexes")
        with open(cfg, "w") as fh:
            fh.write(
                f"sink:\n  index_path: {index_root}\n"
                f"progress:\n  type: file\n  path: {os.path.join(work, 'progress.json')}\n"
                "sync:\n  - table: users\n    pk: user_id\n    full: true\n")
        spec.update({
            "start_args": ["--config", cfg],
            "warmup_args": ["--config", cfg],
            "warmup_events": facts["warmup"],
            "events": facts["drops"],
            "index": os.path.join(index_root, "users"),
            "progress": os.path.join(work, "progress.json"),
        })
    else:
        changes = seconds * ENVELOPE_CHANGES_PER_S
        avg = (1 + ENVELOPE_MAX_CHANGES) / 2

        def render(out: str, seed: int, changes: int, files: int) -> dict:
            return gen.gen_envelope(
                out, seed, keys=max(50, changes // ENVELOPE_REPEATS_PER_KEY),
                files=files, tx_per_file=max(1, round(changes / files / avg)),
                max_changes=ENVELOPE_MAX_CHANGES, zipf_s=ENVELOPE_ZIPF_S)

        facts = render(inputs, seed, changes, ENVELOPE_FILES)
        facts["docs"] = oracle.envelope_expected(facts["changes"], expected)
        # a smaller catch-up of other keys into an index of its own: the
        # timed start then begins with the parse / compact / merge code
        # compiled, but still bootstraps its own fresh index
        warm = render(os.path.join(work, "warmup"), seed + 1,
                      changes // ENVELOPE_FILES, ENVELOPE_WARMUP_FILES)
        envelope_args = ["--envelope", "wal2json", "--source-format", "text",
                         "--payload-schema", "id long, v double, name string, qty long"]
        spec.update({
            "start_args": ["--index", os.path.join(work, "index"), *envelope_args],
            "warmup_args": ["--index", os.path.join(work, "warmup_index"), *envelope_args],
            "warmup_events": warm["drops"],
            "events": facts["drops"],
            "index": os.path.join(work, "index"),
            "progress": None,
        })
    return spec, facts


def gate(spec: dict, facts: dict, child: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, reasons) over every checked operation."""
    reasons = []
    attempted = failed = 0

    def count(n_ok_expected: int, n_bad: int, why: str) -> None:
        nonlocal attempted, failed
        attempted += n_ok_expected
        failed += n_bad
        if n_bad:
            reasons.append(f"{why}: {n_bad}")

    commits = os.path.join(spec["checkpoint"], "commits")
    committed = sum(1 for f in os.listdir(commits) if f.isdigit()) if os.path.isdir(commits) else 0
    count(facts["files"], max(0, facts["files"] - committed), "batches not committed")
    count(1, int(len(child["batches"]) != committed), "progress events != commits")
    count(facts["docs"], oracle.index_mismatches(spec["index"], spec["expected"]),
          "index rows differing from the oracle")
    count(facts["docs"], oracle.index_mismatches(spec["refreshed"], spec["expected"]),
          "refreshed index rows differing from the oracle")
    if spec["progress"]:
        try:
            with open(spec["progress"]) as fh:
                head = json.load(fh).get("users")
        except (OSError, ValueError):
            head = None
        count(1, int(head != facts["max_event_id"]), "progress head != last event id")
    rcs = child["rcs"]
    for name in ("warmup", "timed"):
        count(1, int(rcs[name] != 0), f"start ({name}) exit code")
    count(len(rcs["check"]), sum(1 for r in rcs["check"] if r != 0), "check failures")
    count(len(rcs["refresh"]), sum(1 for r in rcs["refresh"] if r != 0), "refresh failures")
    return attempted, failed, reasons


def execute(workload: str, seed: int, seconds: int, trace: bool,
            program_timeout: float, work: str) -> tuple[dict, dict, dict]:
    """Render inputs into a clean ``work``, then run the workload in a
    fresh process. Returns (spec, input facts, the run's record)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "meilisync_spark", "cli.py")):
        raise FileNotFoundError(f"no meilisync_spark package under {ROOT}")
    wait_gone(work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, facts = prepare(workload, seed, seconds, work)
    spec["program_timeout"] = program_timeout
    spec["trace"] = trace
    return spec, facts, run_child(spec, work, trace)


def end_to_end(spec: dict, facts: dict, child: dict) -> dict:
    events = facts["events"]
    te = [b["duration_ms"].get("triggerExecution", 0.0) for b in child["batches"]] or [0.0]
    files = oracle.index_files(spec["index"])
    return {
        "setup_s": child["setup_s"],
        "events_per_s": events / child["timed_s"],
        "batch_p50_ms": statistics.median(te),
        "batch_tail_ms": nearest_rank(te, TAIL_RANK),
        "cpu_ms_per_event": child["cpu_s"] * 1e3 / events,
        "write_bytes_per_event": child["wchar"] / events,
        "index_bytes_per_doc": sum(os.path.getsize(f) for f in files) / max(facts["docs"], 1),
        "peak_rss_mb": child["peak_rss_mb"],
        "check_s": child["check_s"],
        "refresh_s": child["refresh_s"],
    }


UNITS = {"setup_s": "s", "events_per_s": "1/s", "batch_p50_ms": "ms",
         "batch_tail_ms": "ms", "cpu_ms_per_event": "ms",
         "write_bytes_per_event": "B", "index_bytes_per_doc": "B",
         "peak_rss_mb": "MB", "check_s": "s", "refresh_s": "s"}


def run(workload: str, seed: int, seconds: int, trace: bool,
        program_timeout: float = PROGRAM_TIMEOUT_S, work: str | None = None) -> dict:
    work = work or os.path.join(HERE, "work", workload)
    try:
        spec, facts, child = execute(
            workload, seed, seconds, trace, program_timeout, work)
        attempted, failed, reasons = gate(spec, facts, child)
        if trace:
            import spans

            log = spans.read_event_log(os.path.join(work, "eventlog"))
            metrics = spans.layer_metrics(
                child, log, facts, {"check": CHECK_REPS, "refresh": REFRESH_REPS})
            metrics["index.files"] = len(oracle.index_files(spec["index"]))
            units = {k: spans.layer_unit(k) for k in metrics}
        else:
            metrics, units = end_to_end(spec, facts, child), UNITS
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "reasons": reasons,
            "phases": child["phases"],
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        wait_gone(work)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    try:
        res = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except (FileNotFoundError, RuntimeError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    for name, m in res["metrics"].items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} phases (s): {json.dumps(res['phases'])}", file=sys.stderr)
    print(f"{a.workload} failures = {res['failed']}/{res['attempted']} "
          f"({'; '.join(res['reasons']) or 'none'})")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
