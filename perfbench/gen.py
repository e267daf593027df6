"""Seeded input generators for the benchmark.

Three kinds of input, all written under a work directory inside the
checkout and reused by later runs that ask for the same thing:

- ``tables``: the ten relational tables (region … embeddings) in the
  shape of the engine's TPC-H-ish testdata, at a scale factor, from a
  FIXED seed — the relational workloads read them as fixed inputs and
  the run seed only orders the work;
- ``books``: the pipeline corpus for one run seed (metadata CSV, raw
  Vietnamese text, wav parts, the QC noise plan);
- ``stream_slices``: the streaming twins' batch files for one run
  seed, cut from the fixed tables.

Sizes are chosen so that the amount of work does not depend on the
seed: the seed moves values, order and which book gets which length,
never the totals.
"""

from __future__ import annotations

import csv
import json
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: seed of the fixed relational tables
TABLE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write("ok\n")


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n)).astype("datetime64[D]").astype(
        "datetime64[us]"
    )


def tables(root: str, sf: float) -> str:
    """Write the ten relational tables at scale factor ``sf`` (1.0 =
    6M lineitem rows) under ``root/sf<sf>`` and return that directory.
    Deterministic: the same ``sf`` always yields the same bytes."""
    out = os.path.join(root, f"sf{sf:g}")
    if _done(out):
        return out
    _fresh_dir(out)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    n_user = max(50, int(15_000 * sf))

    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    _write(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}),
        f"{out}/region.parquet",
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    _write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        f"{out}/nation.parquet",
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    _write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        f"{out}/customer.parquet",
        pa.schema(
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", s)]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        f"{out}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    pnames = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": rng.choice(pnames, n_part),
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PTYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        f"{out}/part.parquet",
        pa.schema(
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
             ("p_size", i32), ("p_retailprice", f64)]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        f"{out}/orders.parquet",
        pa.schema(
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
             ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]
        ),
    )
    _write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            }
        ),
        f"{out}/lineitem.parquet",
        pa.schema(
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
             ("l_linestatus", s), ("l_shipdate", ts)]
        ),
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ev_ts = np.sort(rng.integers(t0, t0 + span, n_ev)).astype("datetime64[us]")
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": ev_ts,
                "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
                "event_type": rng.choice(_EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        f"{out}/events.parquet",
        pa.schema(
            [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
             ("value", f64), ("props", s)]
        ),
    )
    texts = []
    for i in range(n_doc):
        if i % 97 == 5 and texts:  # a few near-duplicates of earlier docs
            words = texts[int(rng.integers(0, len(texts)))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))))
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": texts,
                "lang": rng.choice(_LANGS, n_doc),
                "source": [f"src{i % 20}" for i in range(n_doc)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        f"{out}/documents.parquet",
        pa.schema(
            [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]
        ),
    )
    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centroids[labels] * 0.15 + rng.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_vec, dtype=np.int64),
                "embedding": list(vecs),
                "label": labels.astype(np.int32),
            }
        ),
        f"{out}/embeddings.parquet",
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )
    _mark_done(out)
    return out


# ---------------------------------------------------------------------------
# pipeline corpus
# ---------------------------------------------------------------------------

_VI_WORDS = (
    "ngày xưa có một câu chuyện rất dài và hay được kể lại người nghệ sĩ "
    "giọng đọc truyền cảm vô cùng bắt đầu tại ngôi làng nhỏ yên bình dân "
    "sống hạnh phúc bên nhau qua nhiều thế hệ quyển sách thứ hai ngắn hơn "
    "nhưng nội dung của nó vẫn đủ để tạo thành các nhóm câu chuẩn mùa thu "
    "trời xanh gió mát con đường về nhà trong buổi chiều"
).split()
_NARRATORS = ["Lan", "Mai", "Hùng", "Minh", "Thảo", "Tuấn"]
#: part sample rates: the first two fail the 16 kHz audio gate
_LOW_SR = (8000, 11025)
_OK_SR = (16000, 22050, 24000, 44100)
#: QC WER gate threshold the pipeline runs with (percent)
WER_GATE_PCT = 50.0


def _vi_sentence(rng: np.random.Generator) -> str:
    words = list(rng.choice(_VI_WORDS, int(rng.integers(5, 11))))
    kind = int(rng.integers(0, 5))
    if kind == 0:
        words.insert(int(rng.integers(0, len(words))), str(int(rng.integers(2, 999))))
    elif kind == 1:
        words += ["vào", "ngày", f"{int(rng.integers(1, 29))}/{int(rng.integers(1, 13))}/{int(rng.integers(1990, 2024))}"]
    elif kind == 2:
        words += ["giá", f"{int(rng.integers(1, 500))},000đ"]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def books(root: str, seed: int, n_books: int, audio_s: float) -> dict:
    """Write the pipeline corpus for ``seed`` under ``root/books-<seed>-<n>``.

    ``n_books`` books share ``audio_s`` seconds of audio; lengths are a
    fixed skewed split (one long book, a tail of short ones) that the
    seed only permutes. Exactly ``round(0.2·n)`` books carry a part
    below 16 kHz (the audio gate rejects them) and, among the others,
    ``round(0.25·n)`` get heavy QC noise (the WER gate drops them).
    Returns the corpus manifest (also stored as ``manifest.json``)."""
    out = os.path.join(root, f"books-{seed}-{n_books}-{audio_s:g}")
    man_path = os.path.join(out, "manifest.json")
    if _done(out):
        with open(man_path) as fh:
            return json.load(fh)
    _fresh_dir(out)
    rng = np.random.default_rng(1_000_003 * seed + 17)
    weights = np.array([1.0 / (1 + i) ** 0.8 for i in range(n_books)])
    lengths = np.round(audio_s * weights / weights.sum(), 2)
    lengths = lengths[rng.permutation(n_books)]
    ids = [f"{int(x):08x}" for x in rng.choice(2**31, n_books, replace=False)]
    order = rng.permutation(n_books)
    n_rej = max(1, round(0.2 * n_books))
    n_noisy = max(1, round(0.25 * n_books))
    rejected = sorted(ids[i] for i in order[:n_rej])
    noisy = sorted(ids[i] for i in order[n_rej : n_rej + n_noisy])
    audio_dir = os.path.join(out, "audio_in")
    os.makedirs(audio_dir)
    from vnavc_spark.pipeline.audio import encode_wav

    # part counts and part sample rates are fixed multisets the seed
    # permutes, so the decode/resample work is the same for every seed
    n_parts_of = rng.permutation(np.linspace(1, 12, n_books).round().astype(int))
    all_srs = rng.permutation(np.resize(np.array(_OK_SR), int(n_parts_of.sum())))
    rows, texts, noise = [], [], []
    qualified_audio_s = 0.0
    for k, (bid, dur) in enumerate(zip(ids, lengths)):
        n_parts = int(n_parts_of[k])
        part_durs = np.full(n_parts, dur / n_parts)
        srs = all_srs[: n_parts].copy()
        all_srs = all_srs[n_parts:]
        if bid in rejected:
            srs[int(rng.integers(0, n_parts))] = _LOW_SR[k % len(_LOW_SR)]
        else:
            qualified_audio_s += float(dur)
        for j, (pd_, sr) in enumerate(zip(part_durs, srs), start=1):
            n = max(1, int(round(pd_ * sr)))
            t = np.arange(n) / sr
            y = (0.4 * np.sin(2 * math.pi * (220 + 40 * j) * t)).astype(np.float32)
            with open(os.path.join(audio_dir, f"{bid}_{j}.wav"), "wb") as fh:
                fh.write(encode_wav(y, int(sr)))
        # ~2.5 spoken words per second of audio
        n_sent = max(2, int(dur * 2.5 / 9))
        texts.append((bid, " ".join(_vi_sentence(rng) for _ in range(n_sent))))
        spk = _NARRATORS[k % len(_NARRATORS)]
        rows.append(
            {
                "id": bid,
                "name": f"sach-{k}",
                "narrator": f"[{{'id': 'spk{k % len(_NARRATORS)}', 'name': '{spk}'}}]",
                "duration": f"00:{int(dur) // 60:02d}:{int(dur) % 60:02d}",
                "author": f"Tac gia {k % 4}",
                "audio_download_url": str(
                    [f"http://a/{bid}_{j}.mp3" for j in range(1, n_parts + 1)]
                ),
            }
        )
        rate = float(rng.uniform(0.8, 1.0)) if bid in noisy else float(rng.uniform(0.0, 0.15))
        noise.append((bid, rate))
    header = [
        "id", "name", "text_path", "audio_path", "narrator", "duration",
        "author", "text_url", "audio_url", "alignment_path",
        "text_download_url", "audio_download_url", "sample_rate", "quality",
        "word_count", "num_sentences", "audio_size", "text_size",
    ]
    csv_path = os.path.join(out, "metadata_book.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as fh:
        w = csv.DictWriter(fh, fieldnames=header)
        w.writeheader()
        for r in rows:
            w.writerow({h: r.get(h, "") for h in header})
    man = {
        "seed": seed,
        "csv": csv_path,
        "audio_dir": audio_dir,
        "texts": texts,
        "noise": noise,
        "book_ids": sorted(ids),
        "rejected": rejected,
        "noisy": noisy,
        "durations": {b: float(d) for b, d in zip(ids, lengths)},
        "qualified_audio_s": qualified_audio_s,
    }
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    _mark_done(out)
    return man


# ---------------------------------------------------------------------------
# streaming batch files
# ---------------------------------------------------------------------------

#: per stream: source table, columns shipped in the batch files
STREAMS = {
    "orders": ("orders", ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]),
    "events": ("events", ["event_id", "ts", "user_id", "event_type", "value", "props"]),
}


def stream_slices(
    root: str, sf_dir: str, seed: int, rows: int, n_batches: int
) -> dict:
    """Cut, per stream, a seeded slice of ``rows`` rows of its source
    table into ``n_batches`` JSON batch files, and write a table set in
    which that table is the slice (the batch query's input).
    Events slices keep whole users and are cut by time, so each user's
    events arrive in time order across batches (the TWA twin's input
    contract). Returns {stream: {"batches": [file, ...], "sf": dir}}."""
    out = os.path.join(root, f"stream-{seed}-{rows}-{n_batches}")
    man_path = os.path.join(out, "manifest.json")
    if _done(out):
        with open(man_path) as fh:
            return json.load(fh)
    _fresh_dir(out)
    rng = np.random.default_rng(7_000_001 * seed + 3)
    man = {}
    for name, (table, cols) in STREAMS.items():
        df = pq.read_table(f"{sf_dir}/{table}.parquet").to_pandas()
        if table == "events":
            users = rng.permutation(df.user_id.unique())
            df = df[df.user_id.isin(users[: max(2, len(users) // 4)])]
            df = df.sort_values("ts").head(rows)
            edges = np.linspace(0, len(df), n_batches + 1).astype(int)
        else:
            df = df.iloc[np.sort(rng.choice(len(df), min(rows, len(df)), replace=False))]
            df = df.iloc[rng.permutation(len(df))]
            edges = np.linspace(0, len(df), n_batches + 1).astype(int)
        # a complete table set whose `table` is the slice
        sdir = os.path.join(out, name, "sf")
        os.makedirs(sdir)
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet") and f != f"{table}.parquet":
                shutil.copy(os.path.join(sf_dir, f), sdir)
        full = pq.read_table(f"{sf_dir}/{table}.parquet").schema
        pq.write_table(
            pa.Table.from_pandas(df, schema=full, preserve_index=False),
            f"{sdir}/{table}.parquet",
        )
        files = []
        for b in range(n_batches):
            part = df.iloc[edges[b] : edges[b + 1]][cols].copy()
            if "ts" in part:
                part["ts"] = part["ts"].dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
            path = os.path.join(out, name, f"batch{b:03d}.json")
            part.to_json(path, orient="records", lines=True, force_ascii=False)
            files.append(path)
        man[name] = {"batches": files, "sf": sdir, "table": table}
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    _mark_done(out)
    return man
