"""Single-process replay of the per-turn kernel, with and without timing
wrappers on the functions ``core/extract.py`` calls.

The wrappers replace the names in ``medical_ocr_pipeline_spark.core.extract``
(the module that calls them), so ``extract_turn`` runs unchanged and only
its calls into the layer functions are timed.  None of the wrapped
functions calls another through that module, so each wrapper's time is
the function's own time.
"""

from __future__ import annotations

import contextlib
import statistics
import time

FUNCTIONS = (
    "parse_payload", "escalate", "grid_rescue", "deduplicate",
    "regroup_lines", "normalize_turn", "apply_rules", "apply_dictionary",
    "apply_fuzzy", "select_final", "segment_turn",
)


class KernelTrace:
    """Per-function wall time, call counts, and the outcome counts the
    useful-work ratios need."""

    def __init__(self):
        self.secs = dict.fromkeys(FUNCTIONS, 0.0)
        self.calls = dict.fromkeys(FUNCTIONS, 0)
        self.dedup_in = 0
        self.dedup_out = 0
        self.rescue_hits = 0

    def _wrap(self, name, fn):
        clock = time.perf_counter
        secs, calls = self.secs, self.calls

        def timed(*args, **kwargs):
            t0 = clock()
            out = fn(*args, **kwargs)
            secs[name] += clock() - t0
            calls[name] += 1
            if name == "deduplicate":
                self.dedup_in += len(args[0])
                self.dedup_out += len(out)
            elif name == "grid_rescue" and out:
                self.rescue_hits += 1
            return out

        return timed

    @contextlib.contextmanager
    def installed(self):
        from medical_ocr_pipeline_spark.core import extract

        originals = {name: getattr(extract, name) for name in FUNCTIONS}
        try:
            for name, fn in originals.items():
                setattr(extract, name, self._wrap(name, fn))
            yield self
        finally:
            for name, fn in originals.items():
                setattr(extract, name, fn)


def replay(payloads: list[str]) -> tuple[float, list]:
    """(seconds, results) of ``extract_turn`` over ``payloads``."""
    from medical_ocr_pipeline_spark.core.extract import extract_turn

    t0 = time.perf_counter()
    results = [extract_turn(p) for p in payloads]
    return time.perf_counter() - t0, results


def kernel_metrics(payloads: list[str], rounds: int = 3) -> tuple[dict, bool]:
    """Per-layer kernel metrics over ``payloads`` and whether every traced
    replay returned exactly the untraced results.  Untraced and traced
    replays alternate after one warm-up pass; times are medians."""
    _, want = replay(payloads)
    trace = KernelTrace()
    plains, traceds, same = [], [], True
    for _ in range(rounds):
        plains.append(replay(payloads)[0])
        with trace.installed():
            secs, got = replay(payloads)
        traceds.append(secs)
        same = same and got == want
    plain = statistics.median(plains)
    traced = statistics.median(traceds)

    n = max(1, len(payloads)) * rounds
    m = {}
    for name in FUNCTIONS:
        m[f"core.{name}.us_per_turn"] = trace.secs[name] * 1e6 / n
        m[f"core.{name}.calls_per_turn"] = trace.calls[name] / n
    m["core.extract_turn.turns_per_s"] = len(payloads) / plain
    m["core.coverage_frac"] = sum(trace.secs.values()) / sum(traceds)
    m["core.deduplicate.removed_frac"] = (
        (trace.dedup_in - trace.dedup_out) / trace.dedup_in
        if trace.dedup_in else 0.0
    )
    m["core.grid_rescue.hit_frac"] = (
        trace.rescue_hits / trace.calls["grid_rescue"]
        if trace.calls["grid_rescue"] else 0.0
    )
    m["core.escalate.rate"] = trace.calls["escalate"] / n
    m["trace.kernel_overhead_frac"] = traced / plain - 1.0
    return m, same
