"""Host facts and the launch settings derived from them.

Every Spark process the benchmark starts gets the same deployment
settings, passed from outside the program: ``local[<nproc>]``, a driver
heap sized from the memory this host (or its cgroup) really has, and
scratch directories inside the run directory so nothing is written
outside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
from pathlib import Path

# Share of usable memory given to the driver heap, and its clamp.  In
# local[N] every task runs inside that one heap; the inputs are a few MB,
# and the host is shared with other processes.
HEAP_SHARE = 0.125
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    """MemTotal, lowered to the cgroup memory limit when one is set."""
    total = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) // 1024
                break
    for limit_file in ("/sys/fs/cgroup/memory.max",
                       "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = Path(limit_file).read_text().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw) // (1 << 20))
    return total


def driver_heap_mb() -> int:
    share = int(mem_total_mb() * HEAP_SHARE)
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, share))


def source_id(root: Path) -> dict:
    """git sha when the checkout is a git repository, else a digest of
    the package sources (the benchmark also runs from plain exports)."""
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    if sha:
        return {"git_sha": sha}
    h = hashlib.sha256()
    for p in sorted((root / "medical_ocr_pipeline_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return {"source_sha256": h.hexdigest()[:16]}


def stamp(root: Path) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": nproc(),
        "loadavg": load,
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        **source_id(root),
    }


class LaunchSettings:
    """Environment and spark-submit arguments shared by every Spark
    process of one run."""

    def __init__(self, root: Path, run_dir: Path):
        self.cpus = nproc()
        self.heap = f"{driver_heap_mb()}m"
        self.master = f"local[{self.cpus}]"
        tmp = run_dir / "tmp"
        local = run_dir / "spark-local"
        tmp.mkdir(parents=True, exist_ok=True)
        local.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        env.update({
            "PYTHONPATH": str(root),
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEM": self.heap,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # every JVM (the launcher's too): no hsperfdata under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "OMP_NUM_THREADS": "1",
        })
        self.env = env

    def submit_args(self, event_log_dir: Path | None = None) -> list[str]:
        args = ["spark-submit", "--master", self.master,
                "--driver-memory", self.heap,
                "--conf", "spark.ui.enabled=false"]
        if event_log_dir is not None:
            event_log_dir.mkdir(parents=True, exist_ok=True)
            args += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        return args
