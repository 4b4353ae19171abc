"""Tests of the benchmark's own code: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import kernel, oracles, procstat, run, workloads  # noqa: E402


def test_generators_are_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (workloads.chat_rows(s, 400) for s in (7, 7, 8))
    assert a == b
    assert len(a) == len(c) == 400
    assert {r[3] for r in a}.isdisjoint({r[3] for r in c})
    assert workloads.chat_properties(a) == workloads.chat_properties(b)

    d, e, f = (workloads.document_rows(s, 300) for s in (7, 7, 8))
    assert d == e
    assert [x[1] for x in d] != [x[1] for x in f]
    assert workloads.document_properties(d) == workloads.document_properties(e)


def test_kernel_wrappers_leave_every_result_identical():
    from medical_ocr_pipeline_spark.core import extract

    payloads = [r[3] for r in workloads.chat_rows(3, 300)]
    payloads += [d[1] for d in workloads.document_rows(3, 50)]
    originals = {name: getattr(extract, name) for name in kernel.FUNCTIONS}
    _, want = kernel.replay(payloads)
    trace = kernel.KernelTrace()
    with trace.installed():
        _, got = kernel.replay(payloads)
    assert got == want
    assert trace.calls["parse_payload"] == len(payloads)
    assert trace.calls["grid_rescue"] > 0 and trace.calls["escalate"] > 0
    assert {n: getattr(extract, n) for n in kernel.FUNCTIONS} == originals

    m, same = kernel.kernel_metrics(payloads[:60], rounds=1)
    assert same
    assert 0.5 < m["core.coverage_frac"] <= 1.0


BUSY_JAVA = """
public class Busy {
    public static void main(String[] args) throws Exception {
        long end = System.nanoTime() + 1_500_000_000L;
        Runnable spin = () -> { long x = 0; while (System.nanoTime() < end) x++; };
        Thread t = new Thread(spin);
        t.start();
        spin.run();
        t.join();
    }
}
"""


def test_proc_sampler_counts_jvm_cpu_of_descendants(tmp_path):
    src = tmp_path / "Busy.java"
    src.write_text(BUSY_JAVA)
    # the JVM is a grandchild: bash -> java
    proc = subprocess.Popen(
        ["bash", "-c", f"java -XX:-UsePerfData {src}; true"], cwd=tmp_path,
    )
    sampler = procstat.TreeSampler(proc.pid, interval=0.05).start()
    t0 = time.time()
    proc.wait(timeout=120)
    sampler.stop()
    cpu = sampler.cpu_between(t0 - 1, time.time())
    # two threads spin for 1.5 s each
    assert cpu >= 2.5, cpu
    assert sampler.peak_rss() > 10 << 20


ORPHAN = """
import os, subprocess
from perfbench import procstat
assert procstat.become_subreaper()
# the way the pyspark daemon escapes: its own session, parent gone
pid = int(subprocess.run(
    ["bash", "-c", "setsid sleep 60 >/dev/null 2>&1 & echo $!"],
    capture_output=True, text=True, check=True,
).stdout)
assert procstat._read_stat(str(pid))[0] == os.getpid()
assert procstat.end_descendants() == []
assert procstat._read_stat(str(pid)) is None
"""


def test_end_descendants_ends_an_orphan_in_its_own_session():
    # in a child interpreter: end_descendants kills every descendant of
    # the process that calls it, which here would include other tests' JVMs
    subprocess.run([sys.executable, "-c", ORPHAN], cwd=ROOT, check=True,
                   env={**os.environ, "PYTHONPATH": str(ROOT)}, timeout=60)


def _write_stage(path: Path, columns: dict):
    path.mkdir(parents=True)
    pq.write_table(pa.table(columns), path / "part-0.parquet")


def test_extraction_gate_counts_a_changed_turn(tmp_path):
    rows = workloads.chat_rows(5, 40)
    want = oracles.expected_turns(rows, workers=2)
    keys = sorted(want)
    cols = {"conv_id": [k[0] for k in keys], "turn_idx": [k[1] for k in keys]}
    for j, c in enumerate(oracles.RESULT_COLUMNS):
        cols[c] = [want[k][j] for k in keys]
    convs: dict = {}
    for k in keys:
        convs.setdefault(k[0], []).append(want[k][2])
    conv_cols = {"conv_id": list(convs),
                 "conv_text": ["\n\n".join(v) for v in convs.values()],
                 "n_turns": [len(v) for v in convs.values()]}
    _write_stage(tmp_path / "ok" / "01_extracted", cols)
    _write_stage(tmp_path / "ok" / "02_conversations", conv_cols)
    assert oracles.check_extraction(tmp_path / "ok", want) == 0

    cols["n_blocks"] = [cols["n_blocks"][0] + 1] + cols["n_blocks"][1:]
    _write_stage(tmp_path / "bad" / "01_extracted", cols)
    _write_stage(tmp_path / "bad" / "02_conversations", conv_cols)
    assert oracles.check_extraction(tmp_path / "bad", want) == 1


def test_exits_nonzero_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    code = run.main(["--workload", "chat_mixed", "--seed", "1",
                     "--seconds", "1", "--trace", "0"])
    assert code != 0
    assert capsys.readouterr().out == ""


@pytest.mark.parametrize("trace", [0, 1])
def test_benchmark_json_declares_units_for_both_modes(trace):
    units = run.declared_units(trace)
    assert units and all(units.values())
