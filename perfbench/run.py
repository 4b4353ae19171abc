#!/usr/bin/env python3
"""Benchmark of the transcript extraction engine and the corpus monitor.

    python3 perfbench/run.py --workload chat_mixed --seed 1 --seconds 20 --trace 0

Workloads (inputs are generated from --seed and written before timing):

* ``chat_mixed``: ``job.py --input`` over the generator's production-like
  mix of distinct payloads; the per-turn kernel does most of the work.
* ``monitor_docs``: ``job_monitor.py`` over a documents table; no Python
  runs in its plan, so it measures the job's serial floor.

``--trace 0`` measures the end-to-end metrics: each surface run is its own
spark-submit process, and every metric is the median over a run's surface
runs.  ``chat_mixed`` runs its surface at least twice; ``monitor_docs``,
whose surface run is the longest, runs it once after a bare set-up probe,
so either has at least two set-up samples.  Both run it again while
--seconds have not passed.
``--trace 1`` measures the per-layer metrics: the surface
runs once with Spark's event log on, a second Spark process times the
pipeline, streaming and monitor layers, and the kernel is replayed
single-process with timing wrappers.

Every output is checked against the program's oracles after timing.  The
last stdout line is one JSON object: correct, attempted, failed, metrics.
The line before it (``STAMP``) records the host and the workload's input
properties.  The exit code is 0 only when every output is correct.
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host, kernel, oracles, procstat, surfaces, workloads  # noqa: E402

CHAT_TURNS = 10_000
MONITOR_DOCS = 2_000
KERNEL_SAMPLE = 1_000
STREAM_FILES = 256      # stream_extract takes 64 files per micro-batch
# per --trace 0 run: (bare set-up probes, surface runs at least)
PLAN = {"chat_mixed": (0, 2), "monitor_docs": (1, 1)}
LAUNCH_TIMEOUT_S = 150

JOB = "medical_ocr_pipeline_spark/job.py"
MONITOR = "medical_ocr_pipeline_spark/job_monitor.py"


def declared_units(trace: int) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


class Run:
    """One benchmark run: its directory, launch settings and inputs."""

    def __init__(self, workload: str, seed: int, run_dir: Path):
        self.workload = workload
        self.seed = seed
        self.dir = run_dir
        self.launch = host.LaunchSettings(ROOT, run_dir)
        self.log = run_dir / "spark.log"
        self.n_launches = 0
        if workload == "chat_mixed":
            self.rows = workloads.chat_rows(seed, CHAT_TURNS)
            self.props = workloads.chat_properties(self.rows)
            self.input = workloads.write_rows(
                self.rows, workloads.TRANSCRIPT_ARROW, run_dir / "input",
                2 * self.launch.cpus,
            )
            self.transcripts = self.rows
        else:
            self.docs = workloads.document_rows(seed, MONITOR_DOCS)
            self.props = workloads.document_properties(self.docs)
            self.input = run_dir / "input"
            self.input.mkdir()
            workloads.write_file(self.docs, workloads.DOCUMENT_ARROW,
                                 self.input / "documents.parquet")
            self.transcripts = workloads.documents_as_transcripts(self.docs)

    def surface(self, event_log: Path | None = None) -> tuple[surfaces.Launch, Path]:
        self.n_launches += 1
        out = self.dir / f"out{self.n_launches}"
        args = self.launch.submit_args(event_log)
        if self.workload == "chat_mixed":
            args += [JOB, "--input", str(self.input)]
        else:
            args += [MONITOR, "--input", str(self.input / "documents.parquet")]
        args += ["--out", str(out), "--master", self.launch.master]
        return self.spark_submit(args), out

    def probe(self) -> surfaces.Launch:
        return self.spark_submit(self.launch.submit_args() + ["perfbench/probe.py"])

    def spark_submit(self, cmd: list[str]) -> surfaces.Launch:
        return surfaces.launch(cmd, self.launch.env, ROOT, self.log,
                               LAUNCH_TIMEOUT_S)

    def rows_done(self, launch: surfaces.Launch) -> int:
        key = "turns" if self.workload == "chat_mixed" else "docs"
        return int(launch.result[key])

    def ops_per_launch(self) -> int:
        """Operations one surface run attempts: turns, or monitor stages."""
        if self.workload == "chat_mixed":
            return len(self.rows)
        return len(oracles.MONITOR_STAGE_QUERY)

    def check(self, out: Path, expected) -> tuple[int, int]:
        """(attempted, failed) operations of one surface run."""
        if self.workload == "chat_mixed":
            failed = oracles.check_extraction(out, expected)
        else:
            failed = len(oracles.check_monitor(self.input, out))
        return self.ops_per_launch(), failed

    def expected(self):
        if self.workload == "chat_mixed":
            return oracles.expected_turns(self.rows, self.launch.cpus)
        return None


def end_to_end(run: Run, seconds: float) -> tuple[dict, list]:
    t0 = time.time()
    probes, min_launches = PLAN[run.workload]
    setups = [run.probe().setup_s for _ in range(probes)]
    launches = []
    while len(launches) < min_launches or time.time() - t0 < seconds:
        launches.append(run.surface())
    med = statistics.median
    ls = [lo for lo, _ in launches]
    metrics = {
        "setup_s": med(setups + [lo.setup_s for lo in ls]),
        "wall_s": med(lo.secs for lo in ls),
        "rows_per_s": med(run.rows_done(lo) / lo.secs for lo in ls),
        "cpu_s": med(lo.cpu_s for lo in ls),
    }
    return metrics, [out for _, out in launches]


def per_layer(run: Run) -> tuple[dict, list, list]:
    """(metrics, surface outputs to check, outcomes of the layer-side
    checks: row counts through each layer, traced kernel results)."""
    m: dict = {}
    ev_dir = run.dir / "eventlog"
    launch, out = run.surface(event_log=ev_dir)
    m.update(surfaces.event_log_metrics(ev_dir, run.launch.cpus, launch.secs))
    m["surface.peak_rss_mb"] = launch.peak_rss_mb
    m["surface.python_cpu_s"] = launch.cpu_by_kind["python"]
    m["surface.jit_cpu_s"] = launch.cpu_by_kind["jit"]

    stream_src = workloads.write_rows(
        run.transcripts, workloads.TRANSCRIPT_ARROW, run.dir / "stream_src",
        STREAM_FILES,
    )
    transcripts = run.input if run.workload == "chat_mixed" else stream_src
    cmd = run.launch.submit_args() + [
        "perfbench/layer_session.py", "--transcripts", str(transcripts),
        "--stream-src", str(stream_src), "--work", str(run.dir / "layers"),
    ]
    if run.workload == "chat_mixed":
        cmd.append("--monitor")
    session = run.spark_submit(cmd)
    layers = json.loads(next(
        x[len("LAYERS "):] for x in session.lines if x.startswith("LAYERS ")
    ))
    n = len(run.transcripts)
    checks = [v == n for v in layers.pop("rows").values()]
    monitor_lines = layers.pop("job_monitor.lines", launch.lines)
    m.update(layers)

    sample = random.Random(run.seed).sample(
        [r[3] for r in run.transcripts], min(KERNEL_SAMPLE, n)
    )
    km, same = kernel.kernel_metrics(sample)
    checks.append(same)
    for name in ("escalate", "grid_rescue"):
        # on inputs without HTML or layout payloads these are never
        # called; their share of the kernel is in core.coverage_frac
        del km[f"core.{name}.us_per_turn"]
    m.update(km)
    m["trace.overhead_frac"] = m.pop("trace.kernel_overhead_frac")
    m["pipeline.ceiling_frac"] = (
        n / m["pipeline.extract_transcripts_s"]
        / (run.launch.cpus * m["core.extract_turn.turns_per_s"])
    )

    phases = surfaces.phase_times(monitor_lines)
    m["job_monitor.setup_s"] = phases.pop("setup")
    m["job_monitor.summary_s"] = phases.pop("summary")
    for stage in sorted(phases):
        m[f"job_monitor.{stage}_s"] = phases[stage]
    return m, [out], checks


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("chat_mixed", "monitor_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    for rel in (JOB, MONITOR, "medical_ocr_pipeline_spark/session.py"):
        if not (ROOT / rel).is_file():
            print(f"perfbench: {rel} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    base = ROOT / ".perfbench"
    run_dir = base / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    run = None
    procstat.become_subreaper()
    try:
        run = Run(args.workload, args.seed, run_dir)
        if args.trace:
            metrics, outs, checks = per_layer(run)
        else:
            metrics, outs = end_to_end(run, args.seconds)
            checks = []
        expected = run.expected()
        attempted, failed = len(checks), checks.count(False)
        for out in outs:
            a, f = run.check(out, expected)
            attempted += a
            failed += f
        stamp = {**host.stamp(ROOT), "workload": args.workload,
                 "seed": args.seed, "launches": run.n_launches, **run.props}
    except surfaces.SurfaceError as exc:
        # a crashed surface fails everything it was given
        print(f"perfbench: {exc}", file=sys.stderr)
        n = run.n_launches * run.ops_per_launch() if run else 0
        print(json.dumps({"correct": False, "attempted": n, "failed": n,
                          "metrics": {}}), flush=True)
        return 1
    finally:
        left = procstat.end_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
        if base.is_dir() and not any(base.iterdir()):
            base.rmdir()
    if left:
        print(f"perfbench: processes {left} did not end", file=sys.stderr)
        return 1

    units = declared_units(args.trace)
    if set(units) != set(metrics):
        print(f"perfbench: measured {sorted(set(metrics) ^ set(units))} "
              "differ from BENCHMARK.json", file=sys.stderr)
        return 1
    print("STAMP " + json.dumps(stamp), flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": unit}
            for k, unit in units.items()
        },
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
