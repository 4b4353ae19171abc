"""Correctness gates, run after the timed region.

* Extraction: every written turn must equal ``core.extract.extract_turn``
  over the same generated row (all result columns plus the pass-through
  role and ts), matched by ``(conv_id, turn_idx)`` whatever the row order;
  every conversation in ``02_conversations`` must equal the ordered
  concatenation of its turns.
* Monitor: every stage ``job_monitor`` writes must equal the DuckDB
  oracle of the registry query ``tests/test_job_monitor.py`` maps it to,
  compared the way ``scripts/check_oracle.py`` compares (row count,
  column names, order-insensitive value hash).
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow.parquet as pq

RESULT_COLUMNS = [
    "role", "ts", "text_final", "n_blocks", "n_segments", "mean_conf",
    "bytes_stripped", "parse_failures", "n_header", "n_footer", "two_col",
    "variant",
]

MONITOR_STAGE_QUERY = {
    "monitor_corr": "corr_doc_stats",
    "monitor_chi2": "chi2_lang_source",
    "monitor_gini": "gini_doc_lengths",
    "monitor_diversity": "source_diversity",
    "monitor_drift": "split_token_drift",
    "monitor_oov": "oov_rate",
    "monitor_quantiles": "split_length_quantiles",
    "monitor_head_coverage": "token_head_coverage",
    "monitor_ks": "ks_split_drift",
    "monitor_mw": "mannwhitney_split",
    "eval_sample": "sample_fixed_k",
}


def _extract_chunk(payloads: list[str]) -> list[tuple]:
    from medical_ocr_pipeline_spark.core.extract import extract_turn

    return [tuple(extract_turn(p)) for p in payloads]


def _run_worker(payloads: list[str]) -> list[tuple]:
    """One ``python -m perfbench.oracles`` process over ``payloads``,
    waited for before this returns (a multiprocessing pool would leave its
    resource tracker running after the benchmark exits)."""
    root = Path(__file__).resolve().parent.parent
    done = subprocess.run(
        [sys.executable, "-m", "perfbench.oracles"],
        input=pickle.dumps(payloads), capture_output=True, check=True,
        cwd=root, env={**os.environ, "PYTHONPATH": str(root)},
    )
    return pickle.loads(done.stdout)


def expected_turns(rows: list[tuple], workers: int) -> dict:
    """(conv_id, turn_idx) -> RESULT_COLUMNS values, from the kernel run
    single-process per worker over the generated rows."""
    # interleaved, so each worker gets a like share of the large payloads
    parts = [rows[i::workers] for i in range(workers)]
    with ThreadPoolExecutor(workers) as ex:
        results = ex.map(_run_worker, [[r[3] for r in part] for part in parts])
        return {
            (r[0], r[1]): (r[2], r[5].replace(tzinfo=None)) + res
            for part, out in zip(parts, results)
            for r, res in zip(part, out, strict=True)
        }


def check_extraction(out: Path, want: dict) -> int:
    """Number of turns whose output is missing, duplicated or differs
    from the oracle, counting every turn of a conversation whose
    assembled text differs."""
    t = pq.read_table(out / "01_extracted").to_pydict()
    got: dict = {}
    dup = set()
    for i, key in enumerate(zip(t["conv_id"], t["turn_idx"])):
        if key in got:
            dup.add(key)
        got[key] = tuple(t[c][i] for c in RESULT_COLUMNS)
    bad = dup | {k for k, v in want.items() if got.get(k) != v}
    bad |= set(got) - set(want)

    by_conv: dict[str, list] = {}
    for (cid, idx), v in want.items():
        by_conv.setdefault(cid, []).append((idx, v[2]))
    c = pq.read_table(out / "02_conversations").to_pydict()
    seen = dict(zip(c["conv_id"], zip(c["conv_text"], c["n_turns"])))
    for cid, turns in by_conv.items():
        turns.sort()
        if seen.get(cid) != ("\n\n".join(x for _, x in turns), len(turns)):
            bad |= {(cid, idx) for idx, _ in turns}
    return len(bad)


def check_monitor(docs_dir: Path, out: Path) -> list[str]:
    """Names of the monitor stages that differ from their oracle."""
    import duckdb

    from medical_ocr_pipeline_spark.queries import REGISTRY
    from scripts.check_oracle import value_hash

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'"
    )
    failed = []
    for stage, query in MONITOR_STAGE_QUERY.items():
        want = con.execute(REGISTRY[query].sql).df()
        got = con.execute(
            f"SELECT * FROM read_parquet('{out / stage}/*.parquet')"
        ).df()
        if (len(got) != len(want)
                or sorted(got.columns) != sorted(want.columns)
                or value_hash(got) != value_hash(want)):
            failed.append(stage)
    con.close()
    return failed


if __name__ == "__main__":
    # oracle worker: pickled payloads on stdin, pickled results on stdout
    pickle.dump(_extract_chunk(pickle.load(sys.stdin.buffer)), sys.stdout.buffer)
