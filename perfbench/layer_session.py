"""Per-layer timings of the extraction path inside one Spark session.

Run under spark-submit by a traced benchmark run.  It times calls into the
program's public functions, each forced by one order-insensitive hash
aggregate so every row is computed:

  session.get_spark            -> session.get_spark_s
  scan                         -> pipeline.scan_s
  scan -> identity mapInArrow  -> pipeline.arrow_roundtrip_s
  pipeline.extract_transcripts -> pipeline.extract_transcripts_s
  pipeline.write_stage         -> pipeline.write_stage_s / _bytes
  pipeline.partition_metrics   -> pipeline.partition_metrics_s
  pipeline.assembly_regime     -> pipeline.assembly_bucket_size,
                                  pipeline.max_conv_state_bytes
  pipeline.conversation_text   -> pipeline.conversation_text_s
  streaming.extraction.stream_extract -> streaming.* (recentProgress)
  job_monitor.run_monitors (with --monitor, over the extracted
  conversations as documents)  -> job_monitor.* (its own lines)

Prints ``LAYERS <json>`` and a ``RESULT secs=`` line.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import statistics
import time
from pathlib import Path

STREAM_KEYS = ("addBatch", "getBatch", "latestOffset", "queryPlanning",
               "walCommit", "commitOffsets")
TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "ts", "text"]


def force(df) -> int:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def identity_roundtrip(df):
    """Scan -> mapInArrow with extract_transcripts' input columns in and
    its output columns out, without the kernel: the Arrow -> Python ->
    Arrow boundary cost alone."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from medical_ocr_pipeline_spark.pipeline import extract_transcripts

    out_schema = extract_transcripts(df).schema
    passthrough = ["conv_id", "turn_idx", "role", "ts"]
    const = {"n_blocks": (pa.int32(), 1), "n_segments": (pa.int32(), 1),
             "mean_conf": (pa.float64(), 1.0),
             "bytes_stripped": (pa.int64(), 0),
             "parse_failures": (pa.int32(), 0), "n_header": (pa.int32(), 0),
             "n_footer": (pa.int32(), 0), "two_col": (pa.bool_(), False),
             "variant": (pa.string(), "plain")}

    def run(batches):
        for batch in batches:
            texts = batch.column("text").to_pylist()
            arrays = [batch.column(c) for c in passthrough]
            arrays.append(pa.array(texts, type=pa.string()))
            for name in out_schema.names[len(passthrough) + 1:]:
                typ, v = const[name]
                arrays.append(pa.array([v] * len(texts), type=typ))
            yield pa.RecordBatch.from_arrays(arrays, names=out_schema.names)

    cast = df.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "role",
        F.col("ts").cast("timestamp_ntz").alias("ts"), "text",
    )
    return cast.mapInArrow(run, schema=out_schema)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def conversations_as_documents(conversations):
    """The extracted conversations as a documents table for the corpus
    monitors: dense doc_id by conv_id, language and source spread by a
    hash of conv_id."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    h = F.abs(F.xxhash64("conv_id"))
    langs = F.array(*[F.lit(x) for x in ("en", "de", "es", "fr", "zh")])
    return conversations.select(
        (F.row_number().over(Window.orderBy("conv_id")) - 1)
        .cast("long").alias("doc_id"),
        F.col("conv_text").alias("text"),
        F.element_at(langs, (h % 5 + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), (h % 20).cast("string")).alias("source"),
        F.length("conv_text").cast("long").alias("n_chars"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--stream-src", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--monitor", action="store_true")
    args = ap.parse_args()
    work = Path(args.work)

    from medical_ocr_pipeline_spark.pipeline import (
        assembly_regime,
        conversation_text,
        extract_transcripts,
        partition_metrics,
        write_stage,
    )
    from medical_ocr_pipeline_spark.session import get_spark
    from medical_ocr_pipeline_spark.streaming.extraction import stream_extract

    m: dict = {}
    m["session.get_spark_s"], spark = timed(lambda: get_spark(app="perfbench-layers"))
    t_start = time.perf_counter()
    df = spark.read.parquet(args.transcripts).select(*TRANSCRIPT_COLUMNS)
    n_rows = force(df)
    force(identity_roundtrip(df.limit(64)))          # warm the Python workers

    m["pipeline.scan_s"], _ = timed(lambda: force(df))
    m["pipeline.arrow_roundtrip_s"], n_id = timed(lambda: force(identity_roundtrip(df)))
    m["pipeline.extract_transcripts_s"], n_ex = timed(
        lambda: force(extract_transcripts(df))
    )
    stage = work / "01_extracted"
    write_stage(extract_transcripts(df), str(stage))
    extracted = spark.read.parquet(str(stage))
    copy = work / "01_extracted_copy"
    m["pipeline.write_stage_s"], _ = timed(lambda: write_stage(extracted, str(copy)))
    m["pipeline.write_stage_bytes"] = dir_bytes(copy)
    m["pipeline.partition_metrics_s"], _ = timed(
        lambda: force(partition_metrics(extracted, "perfbench", "01_extracted"))
    )
    bucket, state = assembly_regime(extracted)
    m["pipeline.assembly_bucket_size"] = bucket
    m["pipeline.max_conv_state_bytes"] = state
    m["pipeline.conversation_text_s"], _ = timed(
        lambda: force(conversation_text(extracted))
    )

    q = stream_extract(spark, args.stream_src, str(work / "stream_out"),
                       str(work / "stream_ckpt"))
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    for key in STREAM_KEYS:
        m[f"streaming.{key}_ms"] = statistics.median(
            p["durationMs"].get(key, 0) for p in progress
        )
    m["streaming.batches"] = len(progress)
    m["streaming.batch_p50_s"] = statistics.median(
        p["durationMs"]["triggerExecution"] for p in progress
    ) / 1e3
    n_stream = spark.read.parquet(str(work / "stream_out")).count()

    if args.monitor:
        from medical_ocr_pipeline_spark.job_monitor import run_monitors

        docs = work / "documents.parquet"
        conversations_as_documents(conversation_text(extracted)).coalesce(1) \
            .write.parquet(str(docs))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run_monitors(
                spark,
                argparse.Namespace(input=str(docs), out=str(work / "monitor"),
                                   run_id="perfbench", resume=False,
                                   parallel_stages=4),
                str(work / "monitor"),
            )
        m["job_monitor.lines"] = buf.getvalue().splitlines()

    m["rows"] = {"input": n_rows, "roundtrip": n_id, "extracted": n_ex,
                 "streamed": n_stream}
    secs = time.perf_counter() - t_start
    spark.stop()
    print("LAYERS " + json.dumps(m), flush=True)
    print(f"RESULT secs={secs:.3f}", flush=True)


if __name__ == "__main__":
    main()
