"""Audio pipeline tests (A1-A5, A12, A14, F8) over synthesized tone
WAVs — the end-to-end mini-corpus strategy from SURVEY §5."""

from __future__ import annotations

import math
import os
import wave

import numpy as np
import pytest

from vnavc_spark.pipeline import audio as A


def tone(freq: float, dur: float, sr: int, amp: float = 0.5) -> np.ndarray:
    t = np.arange(int(dur * sr)) / sr
    return (amp * np.sin(2 * math.pi * freq * t)).astype(np.float32)


def write_wav(path: str, y: np.ndarray, sr: int) -> None:
    with open(path, "wb") as fh:
        fh.write(A.encode_wav(y, sr))


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Two books: b1 = three 16 kHz parts (qualified), b2 = one 8 kHz
    part (unqualified)."""
    d = tmp_path_factory.mktemp("audio_in")
    write_wav(str(d / "b1_1.wav"), tone(440, 1.0, 16000), 16000)
    write_wav(str(d / "b1_2.wav"), tone(550, 0.5, 16000), 16000)
    write_wav(str(d / "b1_3.wav"), tone(660, 0.25, 16000), 16000)
    write_wav(str(d / "b2_1.wav"), tone(330, 1.0, 8000), 8000)
    return str(d)


class TestCodec:
    def test_roundtrip(self):
        y = tone(440, 0.1, 16000)
        y2, sr = A.decode_wav(A.encode_wav(y, 16000))
        assert sr == 16000
        assert np.max(np.abs(y - y2)) < 2 / 32768

    def test_stereo_downmix(self, tmp_path):
        # hand-build a 2-channel wav
        sr, n = 8000, 800
        left = (np.ones(n) * 16000).astype("<i2")
        right = (np.zeros(n)).astype("<i2")
        inter = np.empty(2 * n, dtype="<i2")
        inter[0::2], inter[1::2] = left, right
        p = tmp_path / "st.wav"
        with wave.open(str(p), "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(inter.tobytes())
        y, sr2 = A.decode_wav(p.read_bytes())
        assert sr2 == sr and len(y) == n
        assert abs(float(y.mean()) - 0.25) < 0.01  # (0.5 + 0)/2

    def test_rewrite_never_truncates_an_open_reader(self, tmp_path):
        # a reader mid-decode keeps the whole old file while a replayed
        # stage rewrites the path; no temp file is left behind
        p = str(tmp_path / "book.wav")
        old = A.encode_wav(tone(440, 0.1, 16000), 16000)
        new = A.encode_wav(tone(550, 0.2, 16000), 16000)
        A._write_atomic(p, old)
        with open(p, "rb") as reader:
            A._write_atomic(p, new)
            assert reader.read() == old
        assert (tmp_path / "book.wav").read_bytes() == new
        assert os.listdir(tmp_path) == ["book.wav"]

    def test_decode_audio_non_wav_is_gated(self):
        if A._soundfile is None:
            with pytest.raises(NotImplementedError):
                A.decode_audio(b"\xff\xfb\x90", "mp3")


class TestDsp:
    def test_peak_normalize(self):
        y = tone(440, 0.1, 8000, amp=0.2)
        y2 = A.peak_normalize(y)
        assert np.max(np.abs(y2)) == pytest.approx(0.95, abs=1e-3)
        assert A.peak_normalize(np.zeros(10, np.float32)).sum() == 0

    def test_cut_segment(self):
        y = np.arange(16000, dtype=np.float32)
        seg = A.cut_segment(y, 16000, 0.25, 0.5)
        assert len(seg) == 4000 and seg[0] == 4000


class TestStage:
    def test_scan_concat_gate_cut(self, spark, corpus, tmp_path):
        files = A.scan_audio_files(spark, corpus, "*.wav")
        rows = files.collect()
        assert len(rows) == 4
        assert {r.book_id for r in rows} == {"b1", "b2"}
        assert {r.part_idx for r in rows if r.book_id == "b1"} == {1, 2, 3}

        out_dir = str(tmp_path / "books")
        res = A.concat_book_parts(
            files, out_dir, target_sr=24000, min_sr=16000
        ).collect()
        by_book = {r.book_id: r for r in res}
        # F8 gate: b2's 8 kHz part disqualifies it
        assert by_book["b1"].qualified and not by_book["b2"].qualified
        assert by_book["b2"].audio_path == ""
        # A3: concat length = sum of part durations at 24 kHz
        b1 = by_book["b1"]
        assert b1.sample_rate == 24000
        assert b1.duration == pytest.approx(1.75, abs=0.01)
        assert os.path.exists(b1.audio_path)
        y, sr = A.decode_wav(open(b1.audio_path, "rb").read())
        assert sr == 24000 and np.max(np.abs(y)) <= 0.96

        # A5: cut two segments from the master
        segs = spark.createDataFrame(
            [
                ("b1", 0, 0.0, 1.0, b1.audio_path),
                ("b1", 1, 1.0, 1.75, b1.audio_path),
            ],
            ["book_id", "seg_id", "start", "end", "audio_path"],
        )
        cut = A.cut_segments(segs, str(tmp_path / "segs")).orderBy("seg_id").collect()
        assert cut[0].duration == pytest.approx(1.0, abs=0.01)
        assert cut[1].duration == pytest.approx(0.75, abs=0.01)
        for r in cut:
            assert os.path.exists(r.audio_path)


class TestSincResampler:
    def test_antialiasing_above_target_nyquist(self):
        import numpy as np
        sr, tgt = 44100, 24000
        t = np.arange(sr) / sr
        tone = np.sin(2 * np.pi * 15000 * t).astype(np.float32)  # > 12 kHz
        out = A.resample_sinc(tone, sr, tgt)
        energy_db = 10 * np.log10(np.mean(out[200:-200] ** 2) + 1e-30)
        assert energy_db < -40.0  # band-limited: aliased tone suppressed

    def test_in_band_tone_preserved(self):
        import numpy as np
        sr, tgt = 44100, 24000
        t = np.arange(sr) / sr
        tone = np.sin(2 * np.pi * 1000 * t).astype(np.float32)
        out = A.resample_sinc(tone, sr, tgt)
        # RMS of a unit sine is 1/sqrt(2): -3.01 dB, within 0.1 dB
        energy_db = 10 * np.log10(np.mean(out[200:-200] ** 2))
        assert abs(energy_db - (-3.01)) < 0.1
        assert len(out) == int(np.ceil(sr * tgt / sr))

    def test_noop_and_determinism(self):
        import numpy as np
        y = np.random.RandomState(3).randn(4000).astype(np.float32)
        assert A.resample_sinc(y, 16000, 16000) is y
        a = A.resample_sinc(y, 16000, 24000)
        b = A.resample_sinc(y, 16000, 24000)
        assert np.array_equal(a, b)

    def test_dc_gain_exact(self):
        import numpy as np
        y = np.ones(8000, dtype=np.float32)
        out = A.resample_sinc(y, 16000, 11025)
        core = out[100:-100]
        assert np.max(np.abs(core - 1.0)) < 1e-4  # unit DC per phase
