"""Structured Streaming ingest tests (SURVEY §2.9 extension):
file-source stream → watermarked dedup → parquet append; windowed
counts."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from vnavc_spark.operators import aggregates, dedup, ordering
from vnavc_spark.streaming import ingest


def _write_batch(d, name, rows):
    p = d / name
    p.write_text("\n".join(json.dumps(r) for r in rows))


class TestStreamingIngest:
    def test_dedup_stream_to_parquet(self, spark, tmp_path):
        src = tmp_path / "in"
        src.mkdir()
        _write_batch(
            src,
            "b1.json",
            [
                {"audio_url": "a1", "text_url": "t1", "source": "s", "ts": "2024-01-01T00:00:00"},
                {"audio_url": "a1", "text_url": "t1", "source": "s", "ts": "2024-01-01T00:00:01"},
                {"audio_url": "a2", "text_url": "t2", "source": "s", "ts": "2024-01-01T00:01:00"},
            ],
        )
        stream = ingest.read_json_stream(spark, str(src))
        assert stream.isStreaming
        deduped = ingest.dedup_stream(stream)
        q = ingest.start_parquet_append(
            deduped,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(60)
        out = spark.read.parquet(str(tmp_path / "out"))
        urls = sorted(r.audio_url for r in out.collect())
        assert urls == ["a1", "a2"]  # in-batch duplicate dropped

        # incremental: a new file with one dup + one new key
        _write_batch(
            src,
            "b2.json",
            [
                {"audio_url": "a2", "text_url": "t2", "source": "s", "ts": "2024-01-01T00:02:00"},
                {"audio_url": "a3", "text_url": "t3", "source": "s", "ts": "2024-01-01T00:03:00"},
            ],
        )
        q2 = ingest.start_parquet_append(
            ingest.dedup_stream(ingest.read_json_stream(spark, str(src))),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        q2.awaitTermination(60)
        out2 = spark.read.parquet(str(tmp_path / "out"))
        urls2 = sorted(r.audio_url for r in out2.collect())
        # checkpoint state carries across restarts: a2 not re-appended
        assert urls2 == ["a1", "a2", "a3"]

    def test_windowed_counts(self, spark, tmp_path):
        src = tmp_path / "ev"
        src.mkdir()
        _write_batch(
            src,
            "e.json",
            [
                {"audio_url": f"u{i}", "text_url": "t", "source": "s",
                 "ts": f"2024-01-01T0{h}:{m:02d}:00"}
                for i, (h, m) in enumerate([(0, 5), (0, 55), (1, 5), (1, 6)])
            ],
        )
        stream = ingest.read_json_stream(spark, str(src))
        counts = ingest.windowed_counts(stream, window="1 hour")
        q = (
            counts.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = {
            r.window_start.hour: r.n_events
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        assert rows == {0: 2, 1: 2}

    def test_session_windows(self, spark, tmp_path):
        src = tmp_path / "sess"
        src.mkdir()
        # user 1: two bursts separated by > 30 min → 2 sessions
        _write_batch(
            src,
            "s.json",
            [
                {"audio_url": "u1", "text_url": "t", "source": "s", "ts": "2024-01-01T00:00:00"},
                {"audio_url": "u2", "text_url": "t", "source": "s", "ts": "2024-01-01T00:10:00"},
                {"audio_url": "u3", "text_url": "t", "source": "s", "ts": "2024-01-01T02:00:00"},
            ],
        )
        stream = ingest.read_json_stream(spark, str(src)).withColumn(
            "user_id", __import__("pyspark").sql.functions.lit(1)
        )
        q = (
            ingest.session_windows(stream, gap="30 minutes")
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = sorted(
            spark.sql("SELECT * FROM sessions").collect(),
            key=lambda r: r.session_start,
        )
        assert [r.n_events for r in rows] == [2, 1]
        # first session spans first burst + gap padding
        assert rows[0].session_start.minute == 0
        assert rows[0].session_end.minute == 40  # last event + 30min gap


class TestIncrementalNeardupStream:
    def test_two_batches_dedup_against_signature_table(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        planted = (
            "mot cau chuyen dai ve spark shuffle behavior adaptive "
            "execution skew salting broadcast joins bucketed staging "
            "partition pruning parquet scans o day ket thuc"
        )
        src = tmp_path / "docs_in"
        src.mkdir()
        _write_batch(
            src,
            "b1.json",
            [
                {"doc_id": 1, "text": planted + " mot"},
                {"doc_id": 2, "text": "hoan toan khac biet noi dung nay day du"},
            ],
        )
        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        stream = ingest.read_json_stream(spark, str(src), schema)
        sig = str(tmp_path / "sigs")
        pairs_out = str(tmp_path / "pairs")
        q = ingest.start_incremental_neardup(
            stream, sig, pairs_out, str(tmp_path / "ck1")
        )
        q.awaitTermination(120)
        # batch 1: no near-dups yet; signature table has 2 docs
        assert spark.read.parquet(sig).count() == 2

        # batch 2 delivers a near-dup of doc 1 (and a re-delivery of 2)
        _write_batch(
            src,
            "b2.json",
            [
                {"doc_id": 3, "text": planted + " hai"},
                {"doc_id": 2, "text": "hoan toan khac biet noi dung nay day du"},
            ],
        )
        stream2 = ingest.read_json_stream(spark, str(src), schema)
        q2 = ingest.start_incremental_neardup(
            stream2, sig, pairs_out, str(tmp_path / "ck2")
        )
        q2.awaitTermination(120)
        # re-delivered doc 2 cost zero signature work (still 3 staged)
        assert spark.read.parquet(sig).count() == 3
        pairs = {
            (r.doc_a, r.doc_b) for r in spark.read.parquet(pairs_out).collect()
        }
        assert (1, 3) in pairs  # new doc matched against the STAGED corpus
        assert all(3 in p for p in pairs)  # only pairs touching new docs


class TestStreamStreamJoin:
    def test_interval_join_attributes_within_window(self, spark, tmp_path):
        import json as _json

        clicks = tmp_path / "clicks"
        buys = tmp_path / "buys"
        clicks.mkdir()
        buys.mkdir()
        (clicks / "c1.json").write_text(
            "\n".join(
                _json.dumps(r)
                for r in [
                    {"event_id": 1, "ts": "2024-01-01T10:00:00", "user_id": 7, "event_type": "click", "value": 0.0},
                    {"event_id": 2, "ts": "2024-01-01T10:00:00", "user_id": 8, "event_type": "click", "value": 0.0},
                ]
            )
        )
        (buys / "b1.json").write_text(
            "\n".join(
                _json.dumps(r)
                for r in [
                    # user 7: within the hour → attributed
                    {"event_id": 10, "ts": "2024-01-01T10:30:00", "user_id": 7, "event_type": "purchase", "value": 5.0},
                    # user 8: 2h later → outside the window
                    {"event_id": 11, "ts": "2024-01-01T12:00:00", "user_id": 8, "event_type": "purchase", "value": 5.0},
                ]
            )
        )
        from vnavc_spark.streaming import ingest

        l = ingest.read_json_stream(
            spark, str(clicks), ingest.EVENT_STREAM_SCHEMA
        )
        r = ingest.read_json_stream(
            spark, str(buys), ingest.EVENT_STREAM_SCHEMA
        )
        joined = ingest.interval_join(l, r, within="1 hour")
        assert joined.isStreaming
        q = ingest.start_parquet_append(
            joined, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
        out = spark.read.parquet(str(tmp_path / "out")).collect()
        assert [(x.user_id, x.lag_seconds) for x in out] == [(7, 1800)]


class TestSignatureCompaction:
    def test_two_restart_stable_state_and_compaction(self, spark, tmp_path):
        import glob
        import json as _json

        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from vnavc_spark.operators.dedup import compact_signature_table
        from vnavc_spark.streaming import ingest

        src = tmp_path / "src"
        src.mkdir()
        sig = str(tmp_path / "sig")
        pairs_out = str(tmp_path / "pairs")
        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )

        def write_batch(name, rows):
            (src / name).write_text("\n".join(_json.dumps(r) for r in rows))

        def run(ck):
            stream = ingest.read_json_stream(spark, str(src), schema)
            q = ingest.start_incremental_neardup(
                stream, sig, pairs_out, str(tmp_path / ck)
            )
            q.awaitTermination(120)

        base = "mot hai ba bon nam sau bay tam chin muoi"
        write_batch("b1.json", [
            {"doc_id": 1, "text": base + " mot"},
            {"doc_id": 2, "text": "noi dung khac hoan toan doc lap rieng biet"},
        ])
        run("ck1")
        # restart with a re-delivery plus one new doc
        write_batch("b2.json", [
            {"doc_id": 2, "text": "noi dung khac hoan toan doc lap rieng biet"},
            {"doc_id": 3, "text": base + " hai"},
        ])
        run("ck2")

        # state tables hold ONE row per id despite the re-delivery
        assert spark.read.parquet(sig).count() == 3
        docs_tbl = spark.read.parquet(f"{sig}_docs")
        assert docs_tbl.count() == 3
        assert docs_tbl.select("doc_id").distinct().count() == 3

        # compaction: logical content identical, file count bounded
        before_sig = spark.read.parquet(sig).orderBy("doc_id").collect()
        rep = compact_signature_table(spark, sig, target_partitions=1)
        assert rep[sig]["rows"] == 3
        assert rep[f"{sig}_docs"]["rows"] == 3
        assert rep[sig]["files_after"] <= rep[sig]["files_before"]
        assert len(glob.glob(f"{sig}/*.parquet")) == 1
        assert spark.read.parquet(sig).orderBy("doc_id").collect() == before_sig

        # a third restart after compaction: new doc still dedups
        # against the compacted corpus
        write_batch("b3.json", [{"doc_id": 4, "text": base + " bon"}])
        run("ck3")
        assert spark.read.parquet(sig).count() == 4
        got = {
            (r.doc_a, r.doc_b)
            for r in spark.read.parquet(pairs_out).collect()
        }
        assert (1, 4) in got or (3, 4) in got


class TestCompactionCrashRecovery:
    def test_recovers_live_table_from_old_snapshot(self, spark, tmp_path):
        # simulate a crash between the two swap renames (ADVICE r03):
        # the live path is missing, only the __old snapshot exists —
        # the next compaction must restore it and then compact it
        import glob
        import os

        from vnavc_spark.operators.dedup import compact_signature_table

        sig = str(tmp_path / "sig")
        spark.createDataFrame(
            [(i, f"sig{i}") for i in range(10)], "doc_id long, minhash string"
        ).repartition(4).write.parquet(sig)
        # crash state: live dir renamed away, plus a stale temp
        os.rename(sig, f"{sig}__old_deadbeef")
        os.makedirs(f"{sig}__compact_deadbeef")
        assert not os.path.isdir(sig)

        rep = compact_signature_table(
            spark, sig, include_docs=False, target_partitions=1
        )
        assert rep[sig]["rows"] == 10
        assert os.path.isdir(sig)
        assert spark.read.parquet(sig).count() == 10
        # stale snapshot/temp dirs cleaned up, exactly one data file
        assert glob.glob(f"{sig}__old_*") == []
        assert glob.glob(f"{sig}__compact_*") == []
        assert len(glob.glob(f"{sig}/*.parquet")) == 1

    def test_missing_table_with_no_snapshot_is_skipped(self, spark, tmp_path):
        from vnavc_spark.operators.dedup import compact_signature_table

        rep = compact_signature_table(
            spark, str(tmp_path / "nope"), include_docs=False
        )
        assert rep == {}


class TestStreamingCms:
    def _stream_tokens(self, spark, src):
        return (
            spark.readStream.schema("tok string")
            .json(str(src))
        )

    def test_incremental_sketch_equals_batch_and_verify_is_exact(
        self, spark, tmp_path
    ):
        src = tmp_path / "in"
        src.mkdir()
        # batch 1: 'hot' dominates; batch 2 adds more hot + new cold
        b1 = [{"tok": "hot"}] * 30 + [{"tok": f"c{i}"} for i in range(20)]
        b2 = [{"tok": "hot"}] * 30 + [{"tok": f"d{i}"} for i in range(20)]
        _write_batch(src, "b1.json", b1)
        q = ingest.start_partials(
            self._stream_tokens(spark, src),
            str(tmp_path / "cells"),
            str(tmp_path / "ckpt"),
            aggregates.cms_spec(width=64, depth=2),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", b2)
        q = ingest.start_partials(
            self._stream_tokens(spark, src),
            str(tmp_path / "cells"),
            str(tmp_path / "ckpt"),
            aggregates.cms_spec(width=64, depth=2),
        )
        q.awaitTermination(60)

        from vnavc_spark.operators.aggregates import cms_cells

        corpus = spark.createDataFrame(
            [(r["tok"],) for r in b1 + b2], "tok string"
        )
        # cumulative streamed sketch == one-shot batch sketch
        snap = {
            (r.seed, r.bucket): r.est
            for r in ingest.snapshot(
                spark, str(tmp_path / "cells"), aggregates.cms_spec()
            ).collect()
        }
        ref = {
            (r.seed, r.bucket): r.est
            for r in cms_cells(corpus, width=64, depth=2).collect()
        }
        assert snap == ref
        # exact heavy hitters from the streamed cells: hot has 60 of
        # 100 occurrences; k=4 -> freq*4 > 100 means freq > 25
        out = {
            r.tok: r.freq
            for r in ingest.streaming_heavy_hitters(
                spark,
                str(tmp_path / "cells"),
                corpus,
                k=4,
                width=64,
                depth=2,
            ).collect()
        }
        assert out == {"hot": 60}

    def test_batch_partials_are_replay_idempotent(self, spark, tmp_path):
        from vnavc_spark.operators.aggregates import cms_cells

        corpus = spark.createDataFrame(
            [("x",)] * 5 + [("y",)] * 3, "tok string"
        )
        # simulate a re-delivered batch id: same data written twice to
        # the same partition must not double-count
        dst = str(tmp_path / "cells/batch_id=7")
        for _ in range(2):
            cms_cells(corpus, width=64, depth=2).write.mode(
                "overwrite"
            ).parquet(dst)
        snap = {
            (r.seed, r.bucket): r.est
            for r in ingest.snapshot(
                spark, str(tmp_path / "cells"), aggregates.cms_spec()
            ).collect()
        }
        ref = {
            (r.seed, r.bucket): r.est
            for r in cms_cells(corpus, width=64, depth=2).collect()
        }
        assert snap == ref


class TestWindowedTopK:
    def test_streaming_topk_equals_batch_q156(self, spark, tmp_path):
        # two micro-batches (the second carrying a LATE row for the
        # first hour) staged through the additive partials path must
        # reproduce q156's batch answer over the union of the rows —
        # streaming == batch, column-for-column
        import random

        from vnavc_spark.queries import QUERIES

        random.seed(11)
        types = ["click", "view", "purchase", "signup", "error"]
        rows = [
            {
                "event_id": i,
                "ts": f"2024-01-01T{h:02d}:{i % 60:02d}:00",
                "user_id": i % 7,
                "event_type": types[random.randrange(len(types))],
                "value": 1.0,
            }
            for i, h in enumerate(
                [0] * 40 + [1] * 35 + [2] * 25, start=1
            )
        ]
        # one null type + one null ts (dropped on both paths)
        rows.append({"event_id": 999, "ts": "2024-01-01T00:30:00",
                     "user_id": 1, "event_type": None, "value": 0.0})
        rows.append({"event_id": 998, "ts": None, "user_id": 1,
                     "event_type": "click", "value": 0.0})

        src = tmp_path / "ev"
        src.mkdir()
        _write_batch(src, "b1.json", rows[:60])
        stream = ingest.read_json_stream(
            spark, str(src), schema=ingest.EVENT_STREAM_SCHEMA
        )
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        q = ingest.start_partials(
            stream, partials, ckpt, ordering.window_topk_spec()
        )
        q.awaitTermination(60)
        # batch 2: remainder + the late hour-0 row at the end
        _write_batch(src, "b2.json", rows[60:])
        stream2 = ingest.read_json_stream(
            spark, str(src), schema=ingest.EVENT_STREAM_SCHEMA
        )
        q2 = ingest.start_partials(
            stream2, partials, ckpt, ordering.window_topk_spec()
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, ordering.window_topk_spec()
            ).collect()
        )

        # batch reference: the SAME rows as an events table through
        # the registered q156
        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (
                    r["event_id"],
                    r["ts"].replace("T", " ") if r["ts"] else None,
                    r["user_id"],
                    r["event_type"],
                    r["value"],
                )
                for r in rows
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double",
        ).withColumn("ts", F.to_timestamp("ts")).write.parquet(
            str(sf_dir / "events.parquet")
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q156_window_topk"](spark, str(sf_dir)).collect()
        )
        assert got == want
        assert len(want) > 0

    def test_replayed_batch_partial_is_idempotent(self, spark, tmp_path):
        # a batch id's partial overwrites in place: re-running the
        # same foreachBatch body must not double-count
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:05:00", 1, "click", 1.0)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        partials = str(tmp_path / "p")
        for _ in range(2):  # replay
            (
                df.groupBy(
                    F.date_trunc("hour", "ts").alias("wstart"),
                    F.col("event_type"),
                )
                .agg(F.count("*").cast("long").alias("n"))
                .write.mode("overwrite")
                .parquet(f"{partials}/batch_id=0")
            )
        out = ingest.snapshot(
            spark, partials, ordering.window_topk_spec()
        ).collect()
        assert [(r.event_type, r.n_events, r.rk) for r in out] == [
            ("click", 1, 1)
        ]


class TestStreamingKsDrift:
    def test_streaming_ks_equals_batch_q170(self, spark, tmp_path):
        # two micro-batches of documents staged as additive length
        # histograms must reproduce q170's batch KS answer over the
        # union — streaming == batch is an identity because the
        # summed partials ARE the batch count table and the math is
        # the shared ks_drift_from_counts core
        import random

        from vnavc_spark.queries import QUERIES

        random.seed(23)
        srcs = ["web", "books", "news"]
        rows = [
            {
                "doc_id": i,
                "text": "t " * (i % 5),
                "lang": "en",
                "source": srcs[i % 3],
                # clustered lengths + per-source shift so KS > 0
                "n_chars": 100 + (i % 17) + (i % 3) * 40,
            }
            for i in range(120)
        ]
        rows.append({"doc_id": 900, "text": "x", "lang": "en",
                     "source": None, "n_chars": 5})
        rows.append({"doc_id": 901, "text": "x", "lang": "en",
                     "source": "web", "n_chars": None})

        src = tmp_path / "docs"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", rows[:70])
        q = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.ks_drift_spec(),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", rows[70:])
        q2 = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.ks_drift_spec(),
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, ordering.ks_drift_spec()
            ).collect()
        )

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (r["doc_id"], r["text"], r["lang"], r["source"],
                 r["n_chars"])
                for r in rows
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q170_ks_drift"](spark, str(sf_dir)).collect()
        )
        assert got == want
        assert len(want) == 3
        assert all(r[2] > 0 for r in want)  # the shift moves each ECDF


class TestStreamingContamination:
    def test_streaming_contamination_equals_batch_q179(self, spark, tmp_path):
        # two micro-batches screened against a FROZEN benchmark set
        # must reproduce q179's batch answer over the union —
        # streaming == batch is an identity because docs arrive whole
        # within one batch (the staged per-doc rows ARE the batch
        # per-doc table) and the shingle/screen/rollup core is shared
        words = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
                 "eta", "theta", "iota", "kappa", "lam", "mu",
                 "nu", "xi", "omicron", "pi", "rho", "sigma"]
        srcs = ["web", "books", "news"]

        def text(i):
            # 16-token docs; doc i shares its 13-token core with the
            # benchmark doc (7) when i % 4 == 3 → real contamination
            if i % 4 == 3:
                core = words[:13]
            else:
                core = [words[(i + j) % 18] for j in range(13)]
            return " ".join(core + [f"tail{i}", f"t{i}x", "end"])

        rows = [
            {"doc_id": i, "text": text(i), "lang": "en",
             "source": srcs[i % 3], "n_chars": 64}
            for i in range(40)
        ]
        # the benchmark doc itself: doc_id 7 → 7 % 101 == 7 split
        rows[7]["text"] = " ".join(words[:13] + ["bench", "only", "x"])

        bench_rows = [r for r in rows if r["doc_id"] % 101 == 7]
        train_rows = [r for r in rows if r["doc_id"] % 101 != 7]

        from vnavc_spark.operators.dedup import token_shingle_hashes

        schema = ("doc_id long, text string, lang string,"
                  " source string, n_chars long")
        as_tuple = lambda r: (r["doc_id"], r["text"], r["lang"],
                              r["source"], r["n_chars"])  # noqa: E731
        bench_df = spark.createDataFrame(
            [as_tuple(r) for r in bench_rows], schema
        )
        bench_hashes = (
            token_shingle_hashes(bench_df, "text", n=13)
            .select("h").distinct().persist()
        )
        bench_hashes.count()

        src = tmp_path / "docs"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", train_rows[:20])
        q = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials, ckpt, dedup.contamination_spec(bench_hashes),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", train_rows[20:])
        q2 = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials, ckpt, dedup.contamination_spec(bench_hashes),
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, dedup.contamination_spec()
            ).collect()
        )

        from vnavc_spark.queries import QUERIES

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [as_tuple(r) for r in rows], schema
        ).write.parquet(str(sf_dir / "documents.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q179_contamination_13gram"](
                spark, str(sf_dir)
            ).collect()
        )
        bench_hashes.unpersist()
        assert got == want
        # the synthetic corpus really exercises both branches
        assert sum(r[2] for r in got) > 0          # some contaminated
        assert sum(r[2] for r in got) < sum(r[1] for r in got)


class TestStreamingTwa:
    def test_streaming_twa_equals_batch_q182(self, spark, tmp_path):
        # two time-split micro-batches with carried last-event state
        # must reproduce q182's batch TWA over the union — every
        # consecutive per-user pair is closed exactly once (in the
        # batch holding its right endpoint), products are exact
        # cents x microseconds, partials are additive
        import datetime

        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        types = ["view", "click", "purchase"]
        rows = []
        for i in range(36):
            rows.append({
                "event_id": i,
                # microsecond-offset, strictly increasing timestamps
                "ts": (base + datetime.timedelta(
                    seconds=i * 37, microseconds=(i * 131) % 1000
                )).isoformat(),
                "user_id": i % 3,
                "event_type": types[i % 3] if i % 7 else types[1],
                "value": None if i == 17 else round(3.7 * i + 0.01, 2),
            })

        src = tmp_path / "in"
        src.mkdir()
        partials = str(tmp_path / "partials")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", rows[:18])
        q = ingest.start_twa_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.EVENT_STREAM_SCHEMA
            ),
            partials, state, ckpt,
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", rows[18:])
        q2 = ingest.start_twa_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.EVENT_STREAM_SCHEMA
            ),
            partials, state, ckpt,
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.twa_snapshot(spark, partials).collect()
        )

        from vnavc_spark.queries import QUERIES

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (r["event_id"],
                 datetime.datetime.fromisoformat(r["ts"]),
                 r["user_id"], r["event_type"], r["value"], "{}")
                for r in rows
            ],
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.parquet(str(sf_dir / "events.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q182_time_weighted_avg"](
                spark, str(sf_dir)
            ).collect()
        )
        assert got == want
        # cross-batch intervals really exist: user 0's last b1 event
        # closes in b2 — state dir for batch 0 must hold 3 users
        st0 = spark.read.parquet(f"{state}/batch_id=0")
        assert st0.count() == 3


class TestStreamingScoreSeparation:
    def test_streaming_separation_equals_batch_q186(self, spark, tmp_path):
        # additive class-conditional histogram partials staged per
        # batch must reproduce q186's batch count table exactly, so
        # snapshot == batch is an identity through the shared
        # score_separation_from_counts core
        import random

        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        random.seed(31)
        srcs = ["web", "books", "news"]
        langs = ["en", "de", "fr"]
        rows = [
            {
                "doc_id": i,
                "text": "t " * (i % 5),
                # en docs skew longer so AUC > 0.5 and ties abound
                "lang": langs[i % 3],
                "source": srcs[i % 3 if i % 7 else (i + 1) % 3],
                "n_chars": 100 + (i % 13) + (30 if i % 3 == 0 else 0),
            }
            for i in range(150)
        ]
        rows.append({"doc_id": 900, "text": "x", "lang": "en",
                     "source": None, "n_chars": 5})
        rows.append({"doc_id": 901, "text": "x", "lang": "en",
                     "source": "web", "n_chars": None})
        # a source whose docs are ALL positive must drop from both
        rows += [
            {"doc_id": 910 + k, "text": "x", "lang": "en",
             "source": "onlypos", "n_chars": 50 + k}
            for k in range(4)
        ]

        src = tmp_path / "docs"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", rows[:80])
        q = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.score_separation_spec(),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", rows[80:])
        q2 = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.score_separation_spec(),
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, ordering.score_separation_spec()
            ).collect()
        )

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (r["doc_id"], r["text"], r["lang"], r["source"],
                 r["n_chars"])
                for r in rows
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q186_score_separation"](
                spark, str(sf_dir)
            ).collect()
        )
        assert got == want
        assert not any(r[0] == "onlypos" for r in got)


class TestStreamingQuantileDrift:
    def test_snapshot_equals_batch_q192_from_ks_partials(
        self, spark, tmp_path
    ):
        # ONE staged histogram set (the KS twin's) must feed the
        # decile-drift snapshot too — same additive counts, shared
        # quantile_drift_from_counts core, so snapshot == batch q192
        import random

        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        random.seed(47)
        srcs = ["web", "books", "news"]
        rows = [
            {
                "doc_id": i,
                "text": "t",
                "lang": "en",
                "source": srcs[i % 3],
                "n_chars": 50 + (i % 23) + (i % 3) * 25,
            }
            for i in range(140)
        ]
        src = tmp_path / "docs"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", rows[:90])
        q = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.ks_drift_spec(),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", rows[90:])
        q2 = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            ordering.ks_drift_spec(),
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, ordering.quantile_drift_spec()
            ).collect()
        )

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (r["doc_id"], r["text"], r["lang"], r["source"],
                 r["n_chars"])
                for r in rows
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q192_quantile_drift"](
                spark, str(sf_dir)
            ).collect()
        )
        assert got == want
        # 9 deciles per source
        assert len(got) == 27


class TestStreamingHhi:
    def test_snapshot_equals_batch_q194(self, spark, tmp_path):
        # additive (lang, source, mass) partials summed across batches
        # must reproduce q194's cell table exactly; HHI is recomputed
        # at snapshot time (squared shares aren't additive)
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        langs = ["en", "de"]
        srcs = ["web", "books", "news"]
        rows = [
            {
                "doc_id": i,
                "text": "t",
                "lang": langs[i % 2],
                "source": srcs[(i * 7) % 3],
                # skewed masses so HHI is far from uniform
                "n_chars": 100 + (i % 4) * 900,
            }
            for i in range(90)
        ]
        rows.append({"doc_id": 900, "text": "x", "lang": None,
                     "source": "web", "n_chars": 10})
        rows.append({"doc_id": 901, "text": "x", "lang": "en",
                     "source": "web", "n_chars": None})

        src = tmp_path / "docs"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        _write_batch(src, "b1.json", rows[:50])
        q = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            aggregates.hhi_spec(),
        )
        q.awaitTermination(60)
        _write_batch(src, "b2.json", rows[50:])
        q2 = ingest.start_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.DOC_STREAM_SCHEMA
            ),
            partials,
            ckpt,
            aggregates.hhi_spec(),
        )
        q2.awaitTermination(60)

        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.hhi_spec()
            ).collect()
        )

        sf_dir = tmp_path / "sf"
        sf_dir.mkdir()
        spark.createDataFrame(
            [
                (r["doc_id"], r["text"], r["lang"], r["source"],
                 r["n_chars"])
                for r in rows
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.parquet(str(sf_dir / "documents.parquet"))
        want = sorted(
            tuple(r)
            for r in QUERIES["q194_hhi_concentration"](
                spark, str(sf_dir)
            ).collect()
        )
        assert got == want
        assert len(got) == 2

    def test_replayed_mass_partial_is_idempotent(self, spark, tmp_path):
        # foreachBatch may replay a batch id after a crash: the partial
        # write is mode=overwrite into batch_id=N, so a replay must
        # leave the summed cells (and the snapshot) unchanged
        from pyspark.sql import functions as F

        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        df = spark.createDataFrame(
            [("en", "web", 100), ("en", "books", 300), ("de", "web", 50)],
            "lang string, source string, n_chars long",
        )
        aggregates.hhi_spec().partial(df).write.mode("overwrite").parquet(
            f"{partials}/batch_id=0"
        )
        once = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.hhi_spec()
            ).collect()
        )
        # replay batch 0 (same rows)
        aggregates.hhi_spec().partial(df).write.mode("overwrite").parquet(
            f"{partials}/batch_id=0"
        )
        again = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.hhi_spec()
            ).collect()
        )
        assert once == again


class TestBenfordTwin:
    """queries.q188's streaming twin: per-batch additive first-digit
    count partials (start_digit_partials) summed at snapshot time
    into the shared aggregates.benford_gate_from_digit_counts core —
    snapshot == batch identity on the REAL sf0.001 orders table."""

    def test_snapshot_equals_batch_on_real_orders(self, spark, tmp_path):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        orders = table(spark, sf, "orders")
        # split the real table into two micro-batches by key parity:
        # one source dir + ONE checkpoint, so the second start
        # continues at batch_id=1 instead of overwriting partial 0
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                orders.filter(F.col("o_orderkey") % 2 == 0),
                orders.filter(F.col("o_orderkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"stage{i}"
            half.select(
                "o_orderpriority", "o_totalprice"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_digit_partials(
                spark.readStream.schema(
                    "o_orderpriority string, o_totalprice double"
                ).json(str(src)),
                partials,
                ckpt,
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.benford_snapshot(spark, partials).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q188_benford_gate"](spark, sf).collect()
        )
        assert got == want and len(got) == 5

    def test_summation_snapshot_equals_batch_q205(self, spark, tmp_path):
        """q205's mass-weighted twin: the customer-segment join runs
        UPSTREAM of the stage (dim joins don't belong in the additive
        partial); per-batch digit-MASS partials summed at snapshot
        time reproduce the batch summation test exactly — including
        when one segment's large amounts are split across batches
        (the statistic only means anything on corpus-wide masses)."""
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        orders = table(spark, sf, "orders")
        cust = table(spark, sf, "customer").filter(
            F.col("c_mktsegment").isNotNull()
        )
        joined = orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).select(
            "o_orderkey",
            F.col("c_mktsegment").alias("seg"),
            "o_totalprice",
        )
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        # split by ORDER parity so every segment's mass accumulates
        # across both batches — the cross-batch sum is the claim
        for i, half in enumerate(
            (
                joined.filter(F.col("o_orderkey") % 2 == 0),
                joined.filter(F.col("o_orderkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"sumstage{i}"
            half.coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                spark.readStream.schema(
                    "o_orderkey long, seg string, o_totalprice double"
                ).json(str(src)),
                partials,
                ckpt,
                aggregates.benford_summation_spec(),
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.benford_summation_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q205_benford_summation"](
                spark, sf
            ).collect()
        )
        assert got == want and len(got) == 5

    def test_replayed_digit_partial_is_idempotent(self, spark, tmp_path):
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        df = spark.createDataFrame(
            [("HI", 123.45), ("HI", 913.0), ("LO", 55.5)],
            "o_orderpriority string, o_totalprice double",
        )

        def stage():
            (
                df.select(
                    F.col("o_orderpriority").alias("pri"),
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")
                    .alias("vc"),
                )
                .groupBy(
                    "pri",
                    F.substring(F.col("vc").cast("string"), 1, 1)
                    .cast("int")
                    .alias("d"),
                )
                .agg(F.count("*").cast("long").alias("obs"))
                .write.mode("overwrite")
                .parquet(f"{partials}/batch_id=0")
            )

        stage()
        once = sorted(
            tuple(r)
            for r in ingest.benford_snapshot(spark, partials).collect()
        )
        stage()  # replay batch 0
        again = sorted(
            tuple(r)
            for r in ingest.benford_snapshot(spark, partials).collect()
        )
        assert once == again


class TestEventsAucTwin:
    """The label-histogram twin certified against its SECOND consumer
    (queries.q203): the stream pre-projects events to (event_type,
    cents, weekend-label) — q203's exact projection — stages the same
    additive class-conditional histograms, and the parameterized
    score-separation spec's snapshot reproduces the batch query."""

    def test_snapshot_equals_batch_q203_on_real_events(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        ev = table(spark, sf, "events")
        partials = str(tmp_path / "partials")

        def project(df):
            # q203's exact projection: non-null gate, exact cents,
            # epoch-day weekend label (as a string class so the
            # operator's label equality applies)
            epoch = F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            wk = ((epoch + 3) % 7 + 1).isin(6, 7)
            return df.filter(
                F.col("event_type").isNotNull()
                & F.col("value").isNotNull()
                & F.col("ts").isNotNull()
            ).select(
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
                F.when(wk, F.lit("we")).otherwise(F.lit("wd")).alias(
                    "wk"
                ),
            )

        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                ev.filter(F.col("event_id") % 2 == 0),
                ev.filter(F.col("event_id") % 2 == 1),
            )
        ):
            part = tmp_path / f"stage{i}"
            half.select(
                "event_id", "ts", "user_id", "event_type", "value"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                project(
                    spark.readStream.schema(
                        ingest.EVENT_STREAM_SCHEMA
                    ).json(str(src))
                ),
                partials,
                ckpt,
                ordering.score_separation_spec(
                    group="event_type", value="cents", label="wk", pos="we"
                ),
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark,
                partials,
                ordering.score_separation_spec(group="event_type", value="cents"),
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q203_weekend_value_auc"](
                spark, sf
            ).collect()
        )
        assert got == want and len(got) == 5
        # FIFTH consumer of the SAME staged partials, ZERO new
        # staging: the average-precision snapshot reproduces q217
        # from the histograms this test just staged for the AUC
        # parity above (the two snapshots must never drift onto
        # different count tables)
        got_ap = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark,
                partials,
                ordering.average_precision_spec(group="event_type", value="cents"),
            ).collect()
        )
        want_ap = sorted(
            tuple(r)
            for r in QUERIES["q217_average_precision"](
                spark, sf
            ).collect()
        )
        assert got_ap == want_ap and len(got_ap) == 5

    def test_session_survival_snapshot_equals_batch_q223(
        self, spark, tmp_path
    ):
        """The session-survival twin: halves split by event_id
        PARITY, so nearly every session's events are scattered
        across BOTH batches — the per-batch partial spans are
        fragments that only the gap-rule merge can reassemble; the
        snapshot must still equal the batch q223 exactly (the
        session-window merge identity, plus a replayed-batch
        overwrite staying idempotent)."""
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        ev = table(spark, sf, "events")
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                ev.filter(F.col("event_id") % 2 == 0),
                ev.filter(F.col("event_id") % 2 == 1),
            )
        ):
            part = tmp_path / f"sstage{i}"
            half.select(
                "event_id", "ts", "user_id", "event_type", "value"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                spark.readStream.schema(
                    ingest.EVENT_STREAM_SCHEMA
                ).json(str(src)),
                partials,
                ckpt,
                aggregates.session_survival_spec(),
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.session_survival_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q223_session_survival"](spark, sf).collect()
        )
        assert got == want and len(got) >= 10

    def test_snapshot_equals_batch_q204_composite_group(
        self, spark, tmp_path
    ):
        """THIRD consumer of the separation core / label-histogram
        staging (queries.q204): the composite (event_type, epoch-day)
        key rides the parametric snapshot as the same \\x1f-joined
        string the batch query uses — no new engine code, the
        staging contract is already group-shape-agnostic."""
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        ev = table(spark, sf, "events")
        partials = str(tmp_path / "partials")

        def project(df):
            epoch = F.datediff(
                F.col("ts").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long")
            return df.filter(
                F.col("event_type").isNotNull()
                & F.col("value").isNotNull()
                & F.col("ts").isNotNull()
            ).select(
                F.concat_ws(
                    "\x1f", F.col("event_type"), epoch.cast("string")
                ).alias("g"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("cents"),
                F.when(F.hour("ts") < 6, F.lit("n1"))
                .otherwise(F.lit("n0"))
                .alias("nt"),
            )

        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                ev.filter(F.col("event_id") % 2 == 0),
                ev.filter(F.col("event_id") % 2 == 1),
            )
        ):
            part = tmp_path / f"dstage{i}"
            half.select(
                "event_id", "ts", "user_id", "event_type", "value"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                project(
                    spark.readStream.schema(
                        ingest.EVENT_STREAM_SCHEMA
                    ).json(str(src))
                ),
                partials,
                ckpt,
                ordering.score_separation_spec(
                    group="g", value="cents", label="nt", pos="n1"
                ),
            )
            q.awaitTermination(60)
        snap = ingest.snapshot(
            spark, partials, ordering.score_separation_spec(group="g", value="cents")
        ).select(
            F.substring_index("g", "\x1f", 1).alias("event_type"),
            F.substring_index("g", "\x1f", -1)
            .cast("long")
            .alias("epoch_day"),
            "n_pos",
            "n_neg",
            "auc",
            "gini",
            "ks_stat",
        )
        got = sorted(tuple(r) for r in snap.collect())
        want = sorted(
            tuple(r)
            for r in QUERIES["q204_daily_night_auc"](
                spark, sf
            ).collect()
        )
        assert got == want and len(got) > 50, (len(got), len(want))


class TestHllSketchTwin:
    """queries.q47's streaming twin: per-batch HLL register maxima
    (2^b ints per group per batch — the mergeable-sketch identity)
    MAX-merged at snapshot time into the shared
    aggregates.hll_estimate_from_registers core, with the exact
    countDistinct anchor union-merged from staged distinct pairs —
    snapshot == batch identity on the REAL sf0.001 orders table."""

    def test_snapshot_equals_batch_q47_on_real_orders(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        orders = table(spark, sf, "orders")
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        # split by key parity: the same custkey appears in BOTH
        # batches (odd/even ORDERS, not customers), so the register
        # max-merge and the distinct-pair union both genuinely span
        # batches
        for i, half in enumerate(
            (
                orders.filter(F.col("o_orderkey") % 2 == 0),
                orders.filter(F.col("o_orderkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"hllstage{i}"
            half.select(
                "o_orderpriority", "o_custkey"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_hll_register_partials(
                spark.readStream.schema(
                    "o_orderpriority string, o_custkey long"
                ).json(str(src)),
                partials,
                ckpt,
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.hll_snapshot(spark, partials).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q47_approx_sketches"](spark, sf).collect()
        )
        assert got == want and len(got) == 5, (got, want)

    def test_replayed_register_partial_is_idempotent(
        self, spark, tmp_path
    ):
        # a re-delivered batch id must overwrite its own partial —
        # the merged registers and the snapshot must not move
        from vnavc_spark.operators.aggregates import hll_register_maxima
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        rows = spark.createDataFrame(
            [("HI", 7), ("HI", 11), ("LO", 7)], "g string, v long"
        )

        def stage():
            hll_register_maxima(rows, ["g"], "v").write.mode(
                "overwrite"
            ).parquet(f"{partials}/regs/batch_id=0")
            rows.distinct().write.mode("overwrite").parquet(
                f"{partials}/vals/batch_id=0"
            )

        stage()
        first = sorted(
            tuple(r)
            for r in ingest.hll_snapshot(spark, partials).collect()
        )
        stage()  # replay
        again = sorted(
            tuple(r)
            for r in ingest.hll_snapshot(spark, partials).collect()
        )
        assert first == again and len(first) == 2

    def test_smaller_b_than_staged_is_refused(self, spark, tmp_path):
        # registers staged at b=6 hold indices up to 63; reading
        # them back at b=4 would silently mis-scale the harmonic
        # estimate — the snapshot must refuse, not absorb
        import pytest

        from vnavc_spark.operators.aggregates import hll_register_maxima
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        rows = spark.createDataFrame(
            [("HI", i) for i in range(200)], "g string, v long"
        )
        hll_register_maxima(rows, ["g"], "v", 6).write.mode(
            "overwrite"
        ).parquet(f"{partials}/regs/batch_id=0")
        rows.distinct().write.mode("overwrite").parquet(
            f"{partials}/vals/batch_id=0"
        )
        with pytest.raises(ValueError, match="staged at a larger b"):
            ingest.snapshot(spark, partials, aggregates.hll_spec(b=4)).collect()
        # the correct b still serves
        assert len(ingest.hll_snapshot(spark, partials).collect()) == 1


class TestKmvSketchTwin:
    """queries.q86's streaming twin: per-batch DISTINCT (group,
    value) pairs — the staged-signature pattern kmv_distinct's own
    docstring prescribes at 100 TB — union-merged at snapshot time
    into the UNEDITED core. snapshot == batch identity on the REAL
    sf0.001 orders table, with the same custkey deliberately spanning
    batches so the cross-batch union is exercised."""

    def test_snapshot_equals_batch_q86_on_real_orders(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        orders = table(spark, sf, "orders")
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                orders.filter(F.col("o_orderkey") % 2 == 0),
                orders.filter(F.col("o_orderkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"kmvstage{i}"
            half.select(
                "o_orderpriority", "o_custkey"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_kmv_value_partials(
                spark.readStream.schema(
                    "o_orderpriority string, o_custkey long"
                ).json(str(src)),
                partials,
                ckpt,
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.kmv_snapshot(spark, partials).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q86_kmv_sketch"](spark, sf).collect()
        )
        assert got == want and len(got) == 5, (got, want)


class TestNameLinkageTwin:
    """queries.q202's streaming twin: per-batch additive (nm, n_recs)
    count partials (dedup.name_linkage_spec) summed at snapshot time into
    the shared dedup.name_linkage_pairs core — snapshot == batch
    identity on the REAL sf0.001 customer table, with exact-duplicate
    names split ACROSS batches to prove the entity collapse happens
    corpus-wide, not per batch."""

    def test_snapshot_equals_batch_on_real_customers(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        cust = table(spark, sf, "customer")
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"stage{i}"
            half.select("c_custkey", "c_name").coalesce(1).write.json(
                str(part)
            )
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                spark.readStream.schema(
                    "c_custkey long, c_name string"
                ).json(str(src)),
                partials,
                ckpt,
                dedup.name_linkage_spec(),
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, dedup.name_linkage_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q202_name_linkage"](spark, sf).collect()
        )
        assert got == want and len(got) > 100

    def test_cross_batch_duplicate_names_collapse(self, spark, tmp_path):
        # two records of the SAME name arriving in DIFFERENT batches
        # must still be one entity with n_recs=2 at snapshot time
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        for bid, rows in enumerate(
            (
                [("alice cooper",), ("bob marley",)],
                [("alice cooper",), ("alice coopar",)],
            )
        ):
            spark.createDataFrame(rows, "c_name string").groupBy(
                F.col("c_name").alias("nm")
            ).agg(F.count("*").cast("long").alias("n_recs")).write.mode(
                "overwrite"
            ).parquet(f"{partials}/batch_id={bid}")
        out = {
            (r.name_a, r.name_b): (r.n_recs_a, r.n_recs_b, r.dist)
            for r in ingest.snapshot(
                spark, partials, dedup.name_linkage_spec()
            ).collect()
        }
        assert out == {("alice coopar", "alice cooper"): (1, 2, 1)}, out

    def test_radius2_snapshot_matches_batch_rollup(
        self, spark, tmp_path
    ):
        """The SAME staged (nm, n_recs) partials serve both blocking
        depths: a radius-2 snapshot aggregated per distance must
        equal queries.q207's batch rollup on the real sf0.001
        customer table — one staging contract, two consumers."""
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        partials = str(tmp_path / "partials")
        cust = table(spark, sf, "customer")
        for bid, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            half.filter(F.col("c_name").isNotNull()).groupBy(
                F.col("c_name").alias("nm")
            ).agg(F.count("*").cast("long").alias("n_recs")).write.mode(
                "overwrite"
            ).parquet(f"{partials}/batch_id={bid}")
        snap = ingest.snapshot(spark, partials, dedup.name_linkage_spec(radius=2))
        got = sorted(
            tuple(r)
            for r in snap.groupBy("dist")
            .agg(
                F.count("*").cast("long").alias("n_name_pairs"),
                F.sum(F.col("n_recs_a") * F.col("n_recs_b"))
                .cast("long")
                .alias("n_record_pairs"),
            )
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q207_radius2_linkage"](spark, sf).collect()
        )
        assert got == want and len(got) == 2, (got, want)


class TestKAnonymityTwin:
    """queries.q196's streaming twin: additive QI class-count
    partials summed at snapshot time into the shared
    aggregates.k_anonymity_rollup core — snapshot == batch identity
    on the REAL sf0.001 customer table. The split matters: a class
    fragmented across batches must be judged on its corpus-wide
    size (per-batch fragments are all 'risky'; the sum may not be)."""

    def test_snapshot_equals_batch_on_real_customers(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        cust = table(spark, sf, "customer")
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")
        src = tmp_path / "src"
        src.mkdir()
        for i, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            part = tmp_path / f"stage{i}"
            half.select(
                "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
            ).coalesce(1).write.json(str(part))
            import glob as _glob
            import shutil as _shutil

            for j, f in enumerate(
                sorted(_glob.glob(str(part / "*.json")))
            ):
                _shutil.copy(f, src / f"half{i}_{j}.json")
            q = ingest.start_partials(
                spark.readStream.schema(
                    "c_custkey long, c_nationkey long, "
                    "c_mktsegment string, c_acctbal double"
                ).json(str(src)),
                partials,
                ckpt,
                aggregates.k_anonymity_spec(),
            )
            q.awaitTermination(60)
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.k_anonymity_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q196_k_anonymity"](spark, sf).collect()
        )
        assert got == want and len(got) == 25

    def test_cross_batch_class_judged_corpus_wide(self, spark, tmp_path):
        # 3 + 3 rows of ONE class split across two batches: each
        # fragment is < 5 (risky per batch) but the corpus-wide size
        # is 6 — the snapshot must see 0 risky classes
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        for bid in (0, 1):
            spark.createDataFrame(
                [(7, "AUTO", 2, 3)], "nk long, seg string, band long, sz long"
            ).write.mode("overwrite").parquet(
                f"{partials}/batch_id={bid}"
            )
        out = [
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, aggregates.k_anonymity_spec()
            ).collect()
        ]
        assert out == [(7, 1, 6, 0, 0)], out


class TestFellegiSunterTwin:
    """queries.q208's streaming twin: mergeable per-batch entity
    partials (sum counts, min attributes) re-scored on demand by the
    shared linkage + FS cores — snapshot == batch identity on the
    REAL sf0.001 customer table, with records split across batches so
    the merge (not the batch) does the entity collapse."""

    def test_snapshot_equals_batch_on_real_customers(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        partials = str(tmp_path / "partials")
        cust = table(spark, sf, "customer")
        for bid, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            half.filter(F.col("c_name").isNotNull()).groupBy(
                F.col("c_name").alias("nm")
            ).agg(
                F.count("*").cast("long").alias("n_recs"),
                F.min("c_nationkey").alias("nation"),
                F.min("c_mktsegment").alias("segment"),
                F.min(
                    F.floor(F.col("c_acctbal") / F.lit(1000.0))
                ).alias("bal_band"),
            ).write.mode("overwrite").parquet(
                f"{partials}/batch_id={bid}"
            )
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, dedup.fellegi_sunter_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q208_fellegi_sunter"](spark, sf).collect()
        )
        assert got == want and len(got) >= 2, (got, want)

    def test_cross_batch_attribute_merge(self, spark, tmp_path):
        # a name whose attribute is NULL in one batch and present in
        # another must merge to the present value (the batch groupBy
        # semantics), and cross-batch record counts must sum
        from vnavc_spark.streaming import ingest

        partials = str(tmp_path / "partials")
        rows0 = [("alice cooper", 1, None, "AUTO", 2)]
        rows1 = [("alice cooper", 1, 7, "AUTO", 2),
                 ("alice coopar", 1, 7, "AUTO", 2)]
        schema = (
            "nm string, n_recs long, nation int, segment string, "
            "bal_band long"
        )
        for bid, rows in enumerate((rows0, rows1)):
            spark.createDataFrame(rows, schema).write.mode(
                "overwrite"
            ).parquet(f"{partials}/batch_id={bid}")
        out = {
            (r.decision, r.dist): (
                r.n_pairs,
                r.n_agree_nation,
                r.n_agree_segment,
                r.n_agree_balband,
                r.sum_weight,
            )
            for r in ingest.snapshot(
                spark, partials, dedup.fellegi_sunter_spec()
            ).collect()
        }
        # one d=1 pair, all three attrs agree (nation merged to 7 on
        # both sides): weight = 6 + 4 + 2 + 3 = 15 -> match
        assert out == {("match", 1): (1, 1, 1, 1, 15)}, out


class TestAgreementPatternsTwin:
    """queries.q210's streaming twin: the SAME entity partials as the
    fellegi-sunter twin re-rolled into the agreement-pattern
    histogram — one staging contract, three consumers (scorer,
    decision rollup, estimation sufficient statistic)."""

    def test_snapshot_equals_batch_on_real_customers(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        partials = str(tmp_path / "partials")
        cust = table(spark, sf, "customer")
        for bid, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            half.filter(F.col("c_name").isNotNull()).groupBy(
                F.col("c_name").alias("nm")
            ).agg(
                F.count("*").cast("long").alias("n_recs"),
                F.min("c_nationkey").alias("nation"),
                F.min("c_mktsegment").alias("segment"),
                F.min(
                    F.floor(F.col("c_acctbal") / F.lit(1000.0))
                ).alias("bal_band"),
            ).write.mode("overwrite").parquet(
                f"{partials}/batch_id={bid}"
            )
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, dedup.agreement_patterns_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q210_agreement_patterns"](
                spark, sf
            ).collect()
        )
        assert got == want and len(got) >= 8, (got, want)


class TestEntityClustersTwin:
    """queries.q209's streaming twin: the SAME entity partials as the
    fellegi-sunter / agreement-patterns twins pushed through the full
    decide -> cluster tail (match filter + connected components) —
    the complete ER readout family off one staging contract."""

    def test_snapshot_equals_batch_on_real_customers(
        self, spark, tmp_path
    ):
        from vnavc_spark.io import table
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        sf = "/root/testdata/sf0.001"
        partials = str(tmp_path / "partials")
        cust = table(spark, sf, "customer")
        for bid, half in enumerate(
            (
                cust.filter(F.col("c_custkey") % 2 == 0),
                cust.filter(F.col("c_custkey") % 2 == 1),
            )
        ):
            half.filter(F.col("c_name").isNotNull()).groupBy(
                F.col("c_name").alias("nm")
            ).agg(
                F.count("*").cast("long").alias("n_recs"),
                F.min("c_nationkey").alias("nation"),
                F.min("c_mktsegment").alias("segment"),
                F.min(
                    F.floor(F.col("c_acctbal") / F.lit(1000.0))
                ).alias("bal_band"),
            ).write.mode("overwrite").parquet(
                f"{partials}/batch_id={bid}"
            )
        got = sorted(
            tuple(r)
            for r in ingest.snapshot(
                spark, partials, dedup.entity_clusters_spec()
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in QUERIES["q209_entity_clusters"](spark, sf).collect()
        )
        assert got == want and len(got) >= 2, (got, want)


class TestSharedPartialsPath:
    """The generic twin path, written once against a toy spec: every
    twin's replay and batch-path properties live in ``start_partials``,
    ``snapshot`` and ``Spec.batch``."""

    @staticmethod
    def _count_spec(merge=None):
        from vnavc_spark.operators.mergeable import Spec, merge_by

        return Spec(
            lambda rows: rows.groupBy("k").agg(
                F.count("*").cast("long").alias("n")
            ),
            merge or merge_by("k"),
            lambda m: m.select("k", (F.col("n") * 10).alias("n10")),
        )

    def test_replayed_batch_overwrites_only_its_own_partial(
        self, spark, tmp_path
    ):
        import os

        spec = self._count_spec()
        src = tmp_path / "in"
        src.mkdir()
        partials = str(tmp_path / "partials")
        ckpt = str(tmp_path / "ckpt")

        def run():
            q = ingest.start_partials(
                spark.readStream.schema("k string").json(str(src)),
                partials,
                ckpt,
                spec,
            )
            q.awaitTermination(60)
            assert q.exception() is None

        _write_batch(src, "b0.json", [{"k": "a"}, {"k": "a"}, {"k": "b"}])
        run()
        _write_batch(src, "b1.json", [{"k": "a"}, {"k": "c"}])
        run()
        snap = lambda: sorted(  # noqa: E731
            tuple(r) for r in ingest.snapshot(spark, partials, spec).collect()
        )
        before = snap()
        assert before == [("a", 30), ("b", 10), ("c", 10)]
        b0 = sorted(os.listdir(f"{partials}/batch_id=0"))
        b1 = sorted(os.listdir(f"{partials}/batch_id=1"))
        # a crash after batch 1's write but before its commit: the
        # restarted query re-runs batch id 1 over the same offsets
        for f in ("1", ".1.crc"):
            os.remove(os.path.join(ckpt, "commits", f))
        run()
        assert sorted(os.listdir(partials)) == ["batch_id=0", "batch_id=1"]
        assert sorted(os.listdir(f"{partials}/batch_id=0")) == b0
        assert sorted(os.listdir(f"{partials}/batch_id=1")) != b1
        assert snap() == before

    def test_batch_path_never_calls_merge(self, spark):
        def refuse(staged):
            raise AssertionError("the batch path must not merge")

        spec = self._count_spec(merge=refuse)
        rows = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
        assert sorted(tuple(r) for r in spec.batch(rows).collect()) == [
            ("a", 20),
            ("b", 10),
        ]


def test_twa_missing_carry_state_raises_before_writing(spark, tmp_path):
    """TWINS["twa"] guard: batch N > 0 whose batch N-1 carry state is
    missing fails the query instead of dropping the carried open
    intervals, and writes no partial for batch N."""
    import os
    import shutil

    import pytest

    src = tmp_path / "in"
    src.mkdir()
    partials = str(tmp_path / "partials")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    rows = [
        {
            "event_id": i,
            "ts": f"2024-01-01T00:0{i}:00",
            "user_id": i % 2,
            "event_type": "view",
            "value": 1.5 * i,
        }
        for i in range(6)
    ]

    def start():
        return ingest.start_twa_partials(
            ingest.read_json_stream(
                spark, str(src), schema=ingest.EVENT_STREAM_SCHEMA
            ),
            partials,
            state,
            ckpt,
        )

    _write_batch(src, "b0.json", rows[:3])
    q = start()
    q.awaitTermination(60)
    assert q.exception() is None
    shutil.rmtree(f"{state}/batch_id=0")
    _write_batch(src, "b1.json", rows[3:])
    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(60)
    assert q.exception() is not None
    assert not os.path.exists(f"{partials}/batch_id=1")
