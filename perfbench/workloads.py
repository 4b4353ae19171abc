"""Seeded inputs for the benchmark workloads, and their properties.

Inputs are written to parquet before any timing starts: ``job.py``'s own
synthesize path would put generation inside the timed region.

* ``chat_mixed``: the generator's default mix (``synth.make_turn``) over
  conversations whose ids carry the seed, so every seed draws fresh,
  distinct payloads from the same distribution.  The turn count is fixed
  per run (the last conversation is cut short), so runs with different
  seeds do the same amount of work.
* ``monitor_docs``: a documents table with the shape of the testdata
  ``documents.parquet`` (30-word vocabulary, five languages weighted
  towards ``en``, 20 round-robin sources, 10-100 words per document, 5%
  near-duplicates ending in " dup").
"""

from __future__ import annotations

import datetime as dt
import random
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

DOCUMENT_ARROW = pa.schema([
    ("doc_id", pa.int64()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("source", pa.string()),
    ("n_chars", pa.int64()),
])

VARIANTS = ("html", "layout", "plain", "json")   # synth.make_payload order

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANG_WEIGHTS = (("en", 41), ("de", 14), ("es", 15), ("fr", 15), ("zh", 15))
_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _h(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def chat_rows(seed: int, n_turns: int) -> list[tuple]:
    """``n_turns`` transcript rows (TRANSCRIPT_ARROW order) in a shuffled,
    seed-determined order."""
    from medical_ocr_pipeline_spark.synth import conv_len, make_turn

    rows: list[tuple] = []
    k = 0
    while len(rows) < n_turns:
        cid = f"s{seed}_conv_{k:06d}"
        n = min(conv_len(cid), n_turns - len(rows))
        rows.extend(make_turn(cid, t) for t in range(n))
        k += 1
    rows.sort(key=lambda r: _h(f"{seed}:{r[0]}:{r[1]}"))
    return [r[:5] + (r[5].replace(tzinfo=dt.timezone.utc),) for r in rows]


def document_rows(seed: int, n_docs: int) -> list[tuple]:
    """``n_docs`` documents (DOCUMENT_ARROW order)."""
    rng = random.Random(f"monitor_docs:{seed}")
    langs = [lang for lang, w in _LANG_WEIGHTS for _ in range(w)]
    rows: list[tuple] = []
    for doc_id in range(n_docs):
        if rows and rng.random() < 0.05:
            text = rng.choice(rows)[1] + " dup"
        else:
            text = " ".join(
                rng.choice(_DOC_WORDS) for _ in range(10 + rng.randrange(91))
            )
        rows.append((doc_id, text, rng.choice(langs), f"src{doc_id % 20}",
                     len(text)))
    return rows


def documents_as_transcripts(docs: list[tuple]) -> list[tuple]:
    """Each document as a one-turn conversation: the mapping of the
    ``extract_documents`` registry query."""
    return [(f"doc_{d[0]}", 0, "user", d[1], None, _BASE_TS) for d in docs]


def write_file(rows: list[tuple], schema: pa.Schema, path: Path) -> Path:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    pq.write_table(pa.table(dict(zip(schema.names, cols)), schema=schema), path)
    return path


def write_rows(rows: list[tuple], schema: pa.Schema, out_dir: Path,
               n_files: int) -> Path:
    """Round-robin ``rows`` over ``n_files`` parquet files in ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for f in range(n_files):
        write_file(rows[f::n_files], schema, out_dir / f"part-{f:05d}.parquet")
    return out_dir


def _quantile(sorted_vals: list[int], q: float) -> float:
    if not sorted_vals:
        return 0.0
    return float(sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))])


def payload_properties(texts: list[str], variant_of=None) -> dict:
    """Size, repetition and variant mix of the payloads a workload feeds
    the kernel: they bound any memo or size-dependent gain."""
    sizes = sorted(len(t.encode("utf-8")) for t in texts)
    props = {
        "payload.distinct_frac": len(set(texts)) / max(1, len(texts)),
        "payload.bytes_p50": _quantile(sizes, 0.50),
        "payload.bytes_p99": _quantile(sizes, 0.99),
    }
    counts = dict.fromkeys(VARIANTS, 0)
    for i in range(len(texts)):
        counts[variant_of(i) if variant_of else "plain"] += 1
    for v in VARIANTS:
        props[f"payload.share_{v}"] = counts[v] / max(1, len(texts))
    return props


def chat_properties(rows: list[tuple]) -> dict:
    per_conv: dict[str, int] = {}
    for r in rows:
        per_conv[r[0]] = per_conv.get(r[0], 0) + 1

    def variant_of(i: int) -> str:
        return VARIANTS[_h(f"{rows[i][0]}:{rows[i][1]}:v") % 4]

    return {
        "workload.rows": len(rows),
        "workload.groups": len(per_conv),
        "workload.max_group_rows": max(per_conv.values()),
        **payload_properties([r[3] for r in rows], variant_of),
    }


def document_properties(docs: list[tuple]) -> dict:
    per_lang: dict[str, int] = {}
    for d in docs:
        per_lang[d[2]] = per_lang.get(d[2], 0) + 1
    return {
        "workload.rows": len(docs),
        "workload.groups": len(per_lang),
        "workload.max_group_rows": max(per_lang.values()),
        **payload_properties([d[1] for d in docs]),
    }
