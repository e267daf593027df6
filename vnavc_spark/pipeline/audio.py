"""Audio pipeline stage (SURVEY.md §2.8 A1-A5; §3.2 audio
phase): per-book part concat → quality gate → single normalized WAV,
plus segment cutting.

100 TB posture — **path, not payload**: audio bytes never ride
through shuffles. DataFrames carry paths + typed metadata; waveforms
exist only inside pandas-UDF islands that read, transform, and write
them back to storage, returning paths/metrics as columns. Grouping
keys (book_id) are the only shuffle.

Codec support: WAV (PCM16/PCM32/float32) is implemented on the
stdlib ``wave`` module + numpy — fully real and tested. Compressed
formats (mp3 etc.) need an external decoder (librosa/soundfile/ffmpeg,
absent in this container) and are gated: ``decode_audio`` raises
``NotImplementedError`` for them unless a decoder import succeeds.
Resampling is ``resample_sinc``: a band-limited Kaiser-windowed-sinc
polyphase resampler in numpy, deterministic on every executor, with
``librosa.resample``'s semantics (reference ``process_all.py:394-398``).
"""

from __future__ import annotations

import io
import math
import os
import wave

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vnavc_spark.cache import tracked_persist

try:  # optional high-quality decoder/resampler
    import soundfile as _soundfile  # type: ignore
except Exception:  # pragma: no cover
    _soundfile = None

# ---------------------------------------------------------------------------
# WAV codec (stdlib) — mono float32 in [-1, 1]
# ---------------------------------------------------------------------------

def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (mono float32 waveform, sample_rate). Multi-channel
    input is averaged to mono (the reference loads ``mono=True``,
    ``process_all.py:382-392``)."""
    with wave.open(io.BytesIO(data), "rb") as w:
        sr = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        frames = w.readframes(w.getnframes())
    if width == 2:
        y = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        y = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    elif width == 1:
        y = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    if n_ch > 1:
        y = y.reshape(-1, n_ch).mean(axis=1)
    return y, sr


def _write_atomic(path: str, data: bytes) -> None:
    """Write ``data`` to ``path`` through a temp name in the same
    directory, then ``os.replace`` it into place: a reader decoding
    ``path`` while a replayed task rewrites it sees the old file or
    the new one, never a truncated one."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def encode_wav(y: np.ndarray, sr: int) -> bytes:
    """Mono float32 waveform → PCM16 WAV bytes."""
    pcm = np.clip(y, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


# file extension → ffmpeg DEMUXER name where they differ; extensions
# not listed are omitted from the command line entirely and ffmpeg
# probes the stream (an unknown -f like "m4a" would hard-fail even
# though ffmpeg decodes the bytes fine — mp4-family extensions are
# not demuxer names)
_FFMPEG_DEMUXERS = {"mp3", "wav", "flac", "ogg", "aac", "ac3", "mpeg"}


def _ffmpeg_decode(data: bytes, fmt: str, ffmpeg: str = "ffmpeg"
                   ) -> tuple[np.ndarray, int]:
    """Decode compressed audio by shelling to the ffmpeg CLI —
    the same dependency the reference itself shells to for cutting
    (``aeneas_batch_align.py:276-277``), so any cluster that runs
    the reference pipeline already carries it. Input rides stdin,
    mono PCM16 WAV rides stdout: no temp files on executors. The
    input format flag is only passed when the extension IS an
    ffmpeg demuxer name; otherwise ffmpeg probes the stream."""
    import subprocess

    in_fmt = ["-f", fmt] if fmt in _FFMPEG_DEMUXERS else []
    proc = subprocess.run(
        [
            ffmpeg, "-hide_banner", "-loglevel", "error",
            *in_fmt, "-i", "pipe:0",
            "-ac", "1", "-f", "wav", "-acodec", "pcm_s16le", "pipe:1",
        ],
        input=data,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        check=False,
    )
    if proc.returncode != 0 or not proc.stdout:
        raise RuntimeError(
            f"ffmpeg failed decoding .{fmt}: "
            f"{proc.stderr.decode(errors='replace')[:500]}"
        )
    return decode_wav(proc.stdout)


def decode_audio(data: bytes, fmt: str) -> tuple[np.ndarray, int]:
    """S11: audio load. WAV is native; compressed formats fall back
    soundfile → ffmpeg CLI → metadata-only error.

    The ffmpeg fallback shells out exactly like the reference does
    for audio cutting (``aeneas_batch_align.py:276-277``) — mp3
    part files (``crawler/download.py:141-145``) decode on any
    cluster with either soundfile or ffmpeg on the executors. In
    containers with neither, mp3 METADATA still flows (sample
    rate, duration, channels — the F8/G7/F7 gate inputs) via
    vnavc_spark.pipeline.mp3.probe_mp3/with_mp3_info."""
    import shutil

    fmt = fmt.lower().lstrip(".")
    if fmt == "wav":
        return decode_wav(data)
    if _soundfile is not None:  # pragma: no cover — not in container
        y, sr = _soundfile.read(io.BytesIO(data), dtype="float32", always_2d=False)
        if y.ndim > 1:
            y = y.mean(axis=1)
        return y, sr
    if shutil.which("ffmpeg"):
        return _ffmpeg_decode(data, fmt)
    raise NotImplementedError(
        f"decoding .{fmt} requires soundfile or the ffmpeg CLI "
        "(neither found); only WAV decodes natively. For mp3 "
        "METADATA (sample rate, duration, channels — the F8/G7/F7 "
        "gate inputs) no decoder is needed: use "
        "vnavc_spark.pipeline.mp3.probe_mp3/with_mp3_info."
    )


# ---------------------------------------------------------------------------
# DSP primitives (numpy, deterministic)
# ---------------------------------------------------------------------------

def resample_sinc(
    y: np.ndarray,
    sr: int,
    target_sr: int,
    num_zeros: int = 16,
    beta: float = 8.6,
    rolloff: float = 0.9,
) -> np.ndarray:
    """A1: band-limited polyphase resampler — Kaiser-windowed-sinc
    interpolation matching ``librosa.resample``'s semantics
    (reference ``process_all.py:394-398``; parameters mirror
    resampy's kaiser_fast: 16 zero-crossings, β=8.6 ≈ 87 dB stopband,
    0.9 roll-off).

    With the rate ratio reduced to L/M, the fractional sample offset
    takes exactly L values, so the continuous windowed-sinc kernel is
    pre-evaluated into an (L × taps) polyphase bank once per call;
    the signal pass is then one vectorized gather + row dot per
    output chunk (bounded memory, no Python loop over samples). Rows
    are normalized to unit DC gain. Purely deterministic numpy —
    identical on every executor."""
    if sr == target_sr or len(y) == 0:
        return y
    g = math.gcd(int(sr), int(target_sr))
    L, M = target_sr // g, sr // g
    fc = rolloff * min(1.0, L / M)  # cutoff in input-Nyquist units
    half = int(np.ceil(num_zeros / fc))
    j = np.arange(-half, half + 1, dtype=np.float64)
    phases = np.arange(L, dtype=np.float64) / L
    # kernel sampled at t = phase - j (input-sample units)
    t = phases[:, None] - j[None, :]
    h = fc * np.sinc(fc * t)
    support = num_zeros / fc
    tw = np.clip(t / support, -1.0, 1.0)
    h *= np.i0(beta * np.sqrt(1.0 - tw * tw)) / np.i0(beta)
    h[np.abs(t) > support] = 0.0
    h /= h.sum(axis=1, keepdims=True)  # exact unit DC gain per phase
    h32 = h.astype(np.float32)
    taps = 2 * half + 1
    n_out = int(np.ceil(len(y) * L / M))
    ypad = np.concatenate(
        [
            np.zeros(half, dtype=np.float32),
            np.asarray(y, dtype=np.float32),
            np.zeros(half + 2, dtype=np.float32),
        ]
    )
    out = np.empty(n_out, dtype=np.float32)
    # Outputs of a given phase p occur at n ≡ p·M⁻¹ (mod L) and read
    # from input offsets b₀, b₀+M, b₀+2M, … — a strided VIEW over the
    # sliding-window matrix, so each phase is one BLAS matvec with no
    # index gather (≈20× faster than the gather+einsum formulation).
    windows = np.lib.stride_tricks.sliding_window_view(ypad, taps)
    m_inv = pow(M, -1, L)
    for p in range(L):
        n0 = (p * m_inv) % L
        if n0 >= n_out:
            continue
        cnt = (n_out - n0 + L - 1) // L
        b0 = (n0 * M) // L
        out[n0::L] = windows[b0 : b0 + cnt * M : M][:cnt] @ h32[p]
    return out


def peak_normalize(y: np.ndarray, peak: float = 0.95) -> np.ndarray:
    """A2: scale so max |amplitude| = peak (reference
    ``process_all.py:400-407``); silent input returned unchanged."""
    m = float(np.max(np.abs(y))) if len(y) else 0.0
    if m == 0.0:
        return y
    return (y / m * peak).astype(np.float32)


def cut_segment(y: np.ndarray, sr: int, start: float, end: float) -> np.ndarray:
    """A5: sample-accurate segment cut (replaces the reference's
    per-row ffmpeg subprocess, ``aeneas_batch_align.py:261-288`` —
    for WAV sources a slice is exact and orders of magnitude
    cheaper)."""
    a = max(0, int(round(start * sr)))
    b = min(len(y), int(round(end * sr)))
    return y[a:b]


# ---------------------------------------------------------------------------
# Spark stage: per-book concat + gate (A3 + F8)
# ---------------------------------------------------------------------------

#: output schema of the concat stage
CONCAT_SCHEMA = (
    "book_id string, audio_path string, sample_rate int, duration double, "
    "n_samples long, audio_size long, qualified boolean, n_parts int"
)


def concat_book_parts(
    parts: DataFrame,
    output_dir: str,
    target_sr: int = 24000,
    min_sr: int = 16000,
    book_col: str = "book_id",
    path_col: str = "path",
    idx_col: str = "part_idx",
) -> DataFrame:
    """A3 + F8: per book — load parts in natural order, gate on min
    part sample rate (≥ ``min_sr`` ⇒ qualified), resample to
    ``target_sr``, peak-normalize, concatenate, write one WAV; return
    a metrics row per book (reference orchestration
    ``process_all.py:455-537``, ProcessPool → executor tasks).

    ``parts`` rows: (book_id, part_idx, path). Bytes are read inside
    the UDF (path-not-payload); one shuffle on book_id; skewed book
    sizes split by AQE.

    The result is persisted (MEMORY_AND_DISK) in the ``audio_concat``
    slot, so the book WAVs are decoded, resampled and written once
    however many actions read it (the align and cut branches share
    it); the NEXT ``concat_book_parts`` call unpersists it. A caller
    that is finished with the stage sooner can ``unpersist()`` it."""

    def _concat(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col)
        book = pdf[book_col].iloc[0]
        waves, srs, nbytes = [], [], 0
        for p in pdf[path_col]:
            with open(p, "rb") as fh:
                data = fh.read()
            nbytes += len(data)
            y, sr = decode_audio(data, os.path.splitext(p)[1] or "wav")
            waves.append(y)
            srs.append(sr)
        qualified = bool(min(srs) >= min_sr) if srs else False
        out_path, out_sr, total = "", target_sr, np.zeros(0, dtype=np.float32)
        if qualified:
            total = np.concatenate(
                [peak_normalize(resample_sinc(y, sr, target_sr)) for y, sr in zip(waves, srs)]
            ) if waves else total
            out_path = os.path.join(output_dir, f"{book}.wav")
            os.makedirs(output_dir, exist_ok=True)
            _write_atomic(out_path, encode_wav(total, target_sr))
        return pd.DataFrame(
            [
                {
                    book_col: book,
                    "audio_path": out_path,
                    "sample_rate": out_sr if qualified else (min(srs) if srs else 0),
                    "duration": len(total) / target_sr,
                    "n_samples": len(total),
                    "audio_size": nbytes,
                    "qualified": qualified,
                    "n_parts": len(pdf),
                }
            ]
        )

    return tracked_persist(
        parts.groupBy(book_col).applyInPandas(_concat, schema=CONCAT_SCHEMA),
        "audio_concat",
    )


#: output schema of the segment-cut stage
SEGMENT_SCHEMA = (
    "book_id string, seg_id int, audio_path string, duration double, "
    "sample_rate int"
)


def cut_segments(
    segments: DataFrame,
    output_dir: str,
    book_col: str = "book_id",
) -> DataFrame:
    """A5 stage: cut per-utterance WAVs from each book's master WAV.
    Input rows: (book_id, seg_id, start, end, audio_path). Grouped by
    book so the master WAV is decoded ONCE per book, not per segment
    (the reference re-opens it per ffmpeg call).

    The result is persisted (MEMORY_AND_DISK) in the ``audio_cut``
    slot, so each segment WAV is written once however many actions
    read it; the NEXT ``cut_segments`` call unpersists it. A caller
    that is finished with the stage sooner can ``unpersist()`` it."""

    def _cut(pdf: pd.DataFrame) -> pd.DataFrame:
        book = pdf[book_col].iloc[0]
        src = pdf["audio_path"].iloc[0]
        with open(src, "rb") as fh:
            y, sr = decode_wav(fh.read())
        os.makedirs(output_dir, exist_ok=True)
        rows = []
        for r in pdf.sort_values("seg_id").itertuples():
            seg = cut_segment(y, sr, r.start, r.end)
            path = os.path.join(output_dir, f"{book}_{r.seg_id}.wav")
            _write_atomic(path, encode_wav(seg, sr))
            rows.append(
                {
                    book_col: book,
                    "seg_id": r.seg_id,
                    "audio_path": path,
                    "duration": len(seg) / sr,
                    "sample_rate": sr,
                }
            )
        return pd.DataFrame(rows)

    return tracked_persist(
        segments.groupBy(book_col).applyInPandas(_cut, schema=SEGMENT_SCHEMA),
        "audio_cut",
    )


# ---------------------------------------------------------------------------
# binaryFile ingestion helper (S11/S12)
# ---------------------------------------------------------------------------

def scan_audio_files(
    spark, path: str, glob: str = "*.wav", book_from_stem: bool = True
) -> DataFrame:
    """S12: directory scan via the binaryFile source with pushed glob
    filter; parses book prefix and natural part index from the path
    (T10/O1) — all native expressions."""
    from vnavc_spark.functions.text import book_prefix, trailing_int

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            F.col("path"),
            F.col("length").alias("audio_size"),
        )
        # binaryFile yields file:/abs/path URIs — strip the scheme so
        # UDFs can open() them
        .withColumn("path", F.regexp_replace("path", r"^file:", ""))
    )
    if book_from_stem:
        df = df.withColumn("book_id", book_prefix("path")).withColumn(
            "part_idx", trailing_int("path")
        )
    return df
