"""End-to-end pipeline integration: the full reference dataflow
(SURVEY §0) run hermetically on Spark —

    metadata CSV → text stage (tokenize/normalize/group) →
    audio stage (parts→concat→gate) → alignment (seam) → segments →
    utterance cutting → QC (sample→WER→gate) → publish (labels,
    parquet, prompts) → merge-upsert metrics back into books.

Asserts the invariants the reference's own QC implies: segment
counts, duration bounds, metadata upsert contents (SURVEY §5).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_audio_pipeline import tone, write_wav
from vnavc_spark.operators.joins import merge_upsert
from vnavc_spark.pipeline import alignment as AL
from vnavc_spark.pipeline import audio as AU
from vnavc_spark.pipeline import publish as P
from vnavc_spark.pipeline import qc as QC
from vnavc_spark.pipeline.text_pipeline import process_text_stage
from vnavc_spark.sources import metadata as M

BOOK_TEXT = {
    "sach-mot": (
        "Ngày xửa ngày xưa có một câu chuyện rất dài và rất hay được kể lại. "
        "Người kể chuyện là một nghệ sĩ có giọng đọc truyền cảm vô cùng. "
        "Câu chuyện bắt đầu vào ngày 15/3/2020 tại một ngôi làng nhỏ yên bình. "
        "Dân làng có 123 người sống hạnh phúc bên nhau qua nhiều thế hệ."
    ),
    "sach-hai": (
        "Quyển sách thứ hai ngắn hơn nhiều so với quyển thứ nhất ở trên. "
        "Nhưng nội dung của nó vẫn đủ dài để tạo thành các nhóm câu chuẩn."
    ),
}

CSV = (
    "id,name,text_path,audio_path,narrator,duration,author,text_url,audio_url,"
    "alignment_path,text_download_url,audio_download_url,sample_rate,quality,"
    "word_count,num_sentences,audio_size,text_size\n"
    "aaaa1111,sach-mot,,,\"[{'id': 'spk1', 'name': 'Lan'}]\",00:00:02,A,,,,"
    "http://t/1,\"['http://a/1_1.mp3']\",,,,,,\n"
    "bbbb2222,sach-hai,,,\"[{'id': 'spk2', 'name': 'Mai'}]\",00:00:01,B,,,,"
    "http://t/2,\"['http://a/2_1.mp3']\",,,,,,\n"
)


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")

    # --- stage 0: metadata ingest (S8 + R2 + T1/T2)
    csv_path = root / "metadata_book.csv"
    csv_path.write_text(CSV, encoding="utf-8")
    books = M.read_books_csv(spark, str(csv_path)).withColumnRenamed("id", "book_id")

    # --- stage 1: text (T4 → T3 → T5 → F6 → T6 → G10)
    raw_text = spark.createDataFrame(
        [(k, v) for k, v in BOOK_TEXT.items()], ["name", "raw_text"]
    ).join(books.select("book_id", "name"), on="name").drop("name")
    sents, groups, metrics = process_text_stage(raw_text, threshold=15)

    # --- stage 2: audio (parts → A1/A2/A3 → F8)
    audio_in = root / "audio_in"
    audio_in.mkdir()
    write_wav(str(audio_in / "aaaa1111_1.wav"), tone(440, 1.2, 16000), 16000)
    write_wav(str(audio_in / "aaaa1111_2.wav"), tone(550, 0.8, 16000), 16000)
    write_wav(str(audio_in / "bbbb2222_1.wav"), tone(330, 1.0, 22050), 22050)
    parts = AU.scan_audio_files(spark, str(audio_in), "*.wav")
    book_audio = AU.concat_book_parts(
        parts, str(root / "book_wavs"), target_sr=24000, min_sr=16000
    )

    # --- stage 3: alignment (A6 seam) → outliers (F7) → utterances
    segs = AL.segments_with_outliers(
        AL.align_books(groups, book_audio), lo=0.2, hi=1.5
    )
    utts = AL.utterance_table(segs, books)

    # --- stage 4: cut per-utterance wavs (A5)
    cut_in = utts.join(
        book_audio.select("book_id", "audio_path"), on="book_id"
    ).select("book_id", "seg_id", "start", "end", "audio_path")
    cut = AU.cut_segments(cut_in, str(root / "seg_wavs"))
    utterances = utts.drop("start", "end", "duration").join(
        cut.select("book_id", "seg_id", "audio_path", "duration", "sample_rate"),
        on=["book_id", "seg_id"],
    )

    # --- stage 5: QC (G11 → A9 → G6 → F9), perfect hypotheses
    sampled = QC.sample_for_qc(utterances, pct=0.5)
    hyps = sampled.select(
        "book_id", "seg_id", F.col("text").alias("hypothesis")
    )
    scored = QC.score_transcripts(sampled, hyps)
    book_wer, kept_books = QC.qc_gate(scored, books, threshold_pct=50.0)

    # --- stage 6: publish + metrics upsert (J3)
    out_ds = str(root / "dataset")
    published = P.publish_dataset(utterances, out_ds)
    # the publish write is the first action: it ran concat and cut
    wav_stamps = _wav_stamps(root)
    books_updated = merge_upsert(
        books,
        metrics.select(
            "book_id",
            "word_count",
            F.col("num_groups").alias("num_sentences"),
        ),
        key="book_id",
        update_cols=["word_count", "num_sentences"],
    )
    return {
        "books": books,
        "sents": sents,
        "groups": groups,
        "metrics": metrics,
        "book_audio": book_audio,
        "segs": segs,
        "utterances": utterances,
        "book_wer": book_wer,
        "kept_books": kept_books,
        "published": published,
        "books_updated": books_updated,
        "out_ds": out_ds,
        "root": root,
        "wav_stamps": wav_stamps,
    }


def _wav_stamps(root) -> dict[str, tuple[int, int]]:
    """(inode, mtime_ns) of every WAV the audio stages wrote."""
    stamps = {}
    for sub in ("book_wavs", "seg_wavs"):
        for name in os.listdir(root / sub):
            st = os.stat(root / sub / name)
            stamps[f"{sub}/{name}"] = (st.st_ino, st.st_mtime_ns)
    return stamps


def _physical_nodes(df) -> list[str]:
    """``simpleString`` of every physical operator a fresh query over
    ``df`` plans to run (once run, adaptive execution may have pruned
    a branch that came out empty). The plan a cached relation holds is
    left out: an InMemoryTableScan reads the cached rows instead of
    running that plan again."""
    out, todo = [], [df.select("*")._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        out.append(node.simpleString(1000))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


class TestEndToEnd:
    def test_text_stage(self, pipeline_run):
        sents = pipeline_run["sents"].collect()
        assert all(r.n_words >= 3 for r in sents)
        # semiotic rewrites landed
        all_norm = " ".join(r.norm for r in sents)
        assert "một hai ba" in all_norm  # "123"
        assert "ngày một năm tháng ba năm" in all_norm  # "15/3/2020"

    def test_audio_stage(self, pipeline_run):
        rows = {r.book_id: r for r in pipeline_run["book_audio"].collect()}
        assert rows["aaaa1111"].qualified and rows["bbbb2222"].qualified
        assert rows["aaaa1111"].duration == pytest.approx(2.0, abs=0.01)
        assert rows["aaaa1111"].sample_rate == 24000

    def test_segments_cover_audio(self, pipeline_run):
        segs = pipeline_run["segs"].collect()
        for book, dur in (("aaaa1111", 2.0), ("bbbb2222", 1.0)):
            b = sorted(
                (r for r in segs if r.book_id == book), key=lambda r: r.seg_id
            )
            assert b[0].start == 0.0
            assert b[-1].end == pytest.approx(dur, abs=0.02)
            assert sum(r.duration for r in b) == pytest.approx(dur, abs=0.02)

    def test_utterances_exclude_outliers_and_carry_speaker(self, pipeline_run):
        utts = pipeline_run["utterances"].collect()
        segs = pipeline_run["segs"].collect()
        n_outliers = sum(r.is_outlier for r in segs)
        assert len(utts) == len(segs) - n_outliers
        assert {r.speaker_id for r in utts} == {"spk1", "spk2"}
        # cut wav durations match the aligned span
        for r in utts:
            assert 0.2 <= r.duration <= 1.5 + 0.02
            assert r.sample_rate == 24000

    def test_qc_perfect_transcripts_keep_all(self, pipeline_run):
        wer = {r.book_id: r.wer_pct for r in pipeline_run["book_wer"].collect()}
        assert all(v == 0.0 for v in wer.values())
        assert pipeline_run["kept_books"].count() == 2

    def test_publish_and_upsert(self, spark, pipeline_run):
        back = spark.read.parquet(pipeline_run["out_ds"])
        assert back.count() == pipeline_run["utterances"].count()
        assert {r.label for r in back.select("label").distinct().collect()} == {0, 1}
        upd = {r.book_id: r for r in pipeline_run["books_updated"].collect()}
        # J3: metrics overwrote the null CSV columns
        assert upd["aaaa1111"].word_count > 0
        assert upd["aaaa1111"].num_sentences > 0
        # untouched columns preserved
        assert upd["aaaa1111"].author == "A"

    def test_each_audio_stage_runs_once(self, pipeline_run):
        # the stages persist their output, so the actions after the
        # publish write read cached rows and never rewrite a WAV
        for key in (
            "book_audio",
            "segs",
            "book_wer",
            "kept_books",
            "published",
            "books_updated",
        ):
            pipeline_run[key].collect()
        assert pipeline_run["wav_stamps"]
        assert _wav_stamps(pipeline_run["root"]) == pipeline_run["wav_stamps"]

    def test_qc_scores_once(self, pipeline_run):
        # score_transcripts persists its output: once book_wer has run
        # the WER UDF, kept_books reads the cached scores
        pipeline_run["book_wer"].collect()
        nodes = _physical_nodes(pipeline_run["kept_books"])
        assert any(n.startswith("InMemoryTableScan") for n in nodes)
        # the WER UDF is the only Python island over the hypotheses
        assert not any(
            n.startswith("ArrowEvalPython") and "hypothesis#" in n for n in nodes
        )
