"""pipeline.extract_blocks_table vs the single-process kernel: every
row's blocks equal the final blocks core.extract.extract_turn_blocks
returns for that turn's payload."""

from medical_ocr_pipeline_spark.core.extract import extract_turn_blocks
from medical_ocr_pipeline_spark.pipeline import extract_blocks_table
from medical_ocr_pipeline_spark.schemas import TURN_BLOCKS
from medical_ocr_pipeline_spark.synth import (
    make_payload,
    spark_transcripts,
    total_turns,
)

N_CONVS = 6


def _expected_blocks(payload):
    _res, _gated, final_blocks = extract_turn_blocks(payload)
    return [
        {
            "text": b["text"],
            "confidence": float(b.get("confidence", 1.0)),
            "bbox": [float(v) for v in b["bbox"]],
            "source": b.get("source"),
            "section": b.get("section"),
        }
        for b in final_blocks
    ]


def test_blocks_table_matches_extract_turn_blocks(spark):
    out = extract_blocks_table(spark_transcripts(spark, N_CONVS, partitions=4))
    assert out.schema == TURN_BLOCKS
    rows = out.collect()
    assert len(rows) == total_turns(N_CONVS)
    variants = set()
    for r in rows:
        payload = make_payload(r["conv_id"], r["turn_idx"])
        variants.add(extract_turn_blocks(payload)[0][-1])
        got = [b.asDict(recursive=True) for b in r["blocks"]]
        assert got == _expected_blocks(payload), (r["conv_id"], r["turn_idx"])
    # the sample spans every payload family the generator emits
    assert {v.split("+")[0] for v in variants} == {"html", "layout", "plain", "json"}
