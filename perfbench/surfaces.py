"""Launching the program's spark-submit surfaces and reading what they
report: their RESULT/SETUP/PHASE/SUMMARY lines, the process tree's CPU and
memory, and (traced launches only) the Spark event log.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.procstat import TreeSampler, end_descendants, tree_cpu_by_kind


class SurfaceError(RuntimeError):
    pass


@dataclass
class Launch:
    wall_s: float
    secs: float                       # the job's own RESULT secs=
    result: dict                      # RESULT key=value fields
    lines: list[str] = field(default_factory=list)
    cpu_s: float = 0.0                # process tree, over the timed region
    peak_rss_mb: float = 0.0
    cpu_by_kind: dict = field(default_factory=dict)   # at the RESULT line

    @property
    def setup_s(self) -> float:
        """Process start to ready session: subprocess wall time minus the
        job's own timed region."""
        return self.wall_s - self.secs


def parse_fields(line: str) -> dict:
    """``RESULT a=1 b=x`` -> {"a": "1", "b": "x"}."""
    out = {}
    for tok in line.split()[1:]:
        if "=" in tok:
            k, v = tok.split("=", 1)
            out[k] = v
    return out


def _kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL the surface's process group (on timeout): its stdout ends."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def launch(cmd: list[str], env: dict, cwd: Path, log: Path,
           timeout: float) -> Launch:
    """Run one surface to completion, sampling its process tree.  When
    it returns, no process the surface started is left."""
    t0 = time.time()
    with open(log, "ab") as err:
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
            text=True, start_new_session=True,
        )
    sampler = TreeSampler(proc.pid).start()
    timer = threading.Timer(timeout, _kill_group, (proc,))
    timer.start()
    lines, t_result, kinds = [], None, {}
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("RESULT"):
                t_result = time.time()
                kinds = tree_cpu_by_kind(proc.pid)
            lines.append(line)
        proc.wait()
    finally:
        timer.cancel()
        wall = time.time() - t0
        sampler.stop()
        # the surface stops its own session; whatever is still alive (the
        # pyspark daemon leaves the process group and exits after the JVM)
        # is ended and reaped here, so the next launch starts alone
        if proc.poll() is None:           # left the loop on an error
            _kill_group(proc)
        proc.wait()
        left = end_descendants()
        proc.stdout.close()
    if left:
        raise SurfaceError(f"processes {left} did not end")
    results = [parse_fields(x) for x in lines if x.startswith("RESULT")]
    if proc.returncode != 0 or not results or t_result is None:
        tail = log.read_text(errors="replace").splitlines()[-15:]
        script = next((c for c in cmd if c.endswith(".py")), cmd[0])
        raise SurfaceError(
            f"{script} exited {proc.returncode}:\n" + "\n".join(tail)
        )
    result = results[-1]
    secs = float(result["secs"])
    return Launch(
        wall_s=wall, secs=secs, result=result, lines=lines,
        cpu_s=sampler.cpu_between(t_result - secs, t_result),
        peak_rss_mb=sampler.peak_rss() / (1 << 20),
        cpu_by_kind=kinds,
    )


def phase_times(lines: list[str]) -> dict:
    """job_monitor's SETUP / PHASE <stage> / SUMMARY lines -> seconds."""
    out = {}
    for line in lines:
        f = parse_fields(line)
        if line.startswith("SETUP"):
            out["setup"] = float(f["secs"])
        elif line.startswith("SUMMARY"):
            out["summary"] = float(f["secs"])
        elif line.startswith("PHASE") and "secs" in f:
            out[line.split()[1]] = float(f["secs"])
    return out


def event_log_metrics(log_dir: Path, slots: int, wall_s: float) -> dict:
    """Spark's own accounting from the JSON event log of one application:
    totals over completed tasks, the run-time skew of the stage with the
    most task time, and task time as a share of the slots' wall time."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    if len(files) != 1:
        raise SurfaceError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs = stages = 0
    run_ms = cpu_ns = sh_read = sh_write = spill = 0
    task_times: dict[int, list[int]] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs += 1
            elif kind == "SparkListenerStageCompleted":
                stages += 1
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                run = m.get("Executor Run Time", 0)
                run_ms += run
                cpu_ns += m.get("Executor CPU Time", 0)
                rd = m.get("Shuffle Read Metrics", {})
                sh_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                sh_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                task_times.setdefault(ev["Stage ID"], []).append(run)
    busiest = max(task_times.values(), key=sum, default=[0])
    med = statistics.median(busiest) or 1
    return {
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_read_bytes": sh_read,
        "spark.shuffle_write_bytes": sh_write,
        "spark.spill_bytes": spill,
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": sum(len(v) for v in task_times.values()),
        "spark.task_skew": max(busiest) / med,
        "spark.slot_busy_frac": run_ms / 1e3 / (slots * wall_s),
    }
