"""Publish stage (K7/K8/G5/A10) tests."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from tests.test_audio_pipeline import tone, write_wav
from vnavc_spark.pipeline import publish as P


@pytest.fixture(scope="module")
def utterances(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("utt")
    rows = []
    for spk in ("spk_b", "spk_a"):
        for i in range(3):
            p = str(d / f"{spk}_{i}.wav")
            write_wav(p, tone(440, 0.2, 16000), 16000)
            rows.append((spk, "b1", i, f"câu số {i} của {spk}", p, 0.2, 16000))
    return spark.createDataFrame(
        rows,
        ["speaker_id", "book_id", "seg_id", "text", "audio_path", "duration", "sample_rate"],
    )


class TestPublish:
    def test_speaker_labels_sorted_stable(self, utterances):
        labels = {r.speaker_id: r.label for r in P.speaker_labels(utterances).collect()}
        assert labels == {"spk_a": 0, "spk_b": 1}  # HF ClassLabel order

    def test_publish_partitioned_parquet(self, spark, utterances, tmp_path):
        out = str(tmp_path / "dataset")
        P.publish_dataset(utterances, out)
        back = spark.read.parquet(out)
        assert back.count() == 6
        assert "label" in back.columns
        # partition pruning works on speaker dirs
        one = back.filter(F.col("speaker_id") == "spk_a")
        assert one.count() == 3
        # T7 cleaning applied: digits → Vietnamese words
        assert all("số không" in r.text or "số" in r.text for r in back.collect())

    def test_corpus_stats_cube(self, utterances):
        stats = P.corpus_stats(utterances)
        rows = {(r.speaker_id, r.sample_rate): r for r in stats.collect()}
        total = rows[(None, None)]
        assert total.n_utts == 6
        assert total.total_hours == pytest.approx(6 * 0.2 / 3600)
        assert rows[("spk_a", 16000)].n_utts == 3

    def test_prompts_jsonl(self, spark, utterances, tmp_path):
        prompts = P.build_prompts(utterances)
        rows = prompts.collect()
        assert len(rows) == 6
        for r in rows:
            assert r.text.startswith("<|task_tts|><|start_content|>")
            assert "<|bicodec_semantic_" in r.text and "<|im_end|>" in r.text
        # deterministic fake tokenizer → stable across runs
        again = {r.text for r in P.build_prompts(utterances).collect()}
        assert {r.text for r in rows} == again
        out = str(tmp_path / "prompts")
        P.write_prompts_jsonl(prompts, out)
        import glob

        lines = []
        for f in glob.glob(out + "/part-*"):
            lines += [json.loads(ln) for ln in open(f)]
        assert len(lines) == 6 and all("text" in d for d in lines)

