"""CLI smoke tests — main() reuses the active test session via
getOrCreate, so these run in-process."""

from __future__ import annotations

from tests.conftest import SF_SMALL
from tests.test_sources import BOOK_CSV
from vnavc_spark.__main__ import main


class TestCli:
    def test_list(self, capsys):
        assert main(["list"]) == 0
        out = capsys.readouterr().out
        assert "q01_region_revenue" in out and "[oracle]" in out
        # since round 8 the whole registry is oracle-backed — no
        # rows-only badge should appear
        assert "rows-only" not in out

    def test_query_runs(self, spark, capsys):
        assert main(["query", "q18_top_k", "--sf-dir", SF_SMALL]) == 0
        assert "o_orderkey" in capsys.readouterr().out

    def test_query_unknown(self, capsys):
        assert main(["query", "nope", "--sf-dir", SF_SMALL]) == 2

    def test_sql(self, spark, capsys):
        assert (
            main(["sql", "SELECT count(*) AS n FROM region", "--sf-dir", SF_SMALL])
            == 0
        )
        assert "5" in capsys.readouterr().out

    def test_text_stage(self, spark, tmp_path, capsys):
        (tmp_path / "metadata_book.csv").write_text(BOOK_CSV, encoding="utf-8")
        texts = tmp_path / "texts"
        texts.mkdir()
        (texts / "chut-phan-linh-đinh.txt").write_text(
            "Một câu chuyện rất dài và hay được kể lại cho mọi người nghe. "
            "Câu thứ hai cũng đủ dài để giữ lại trong nhóm."
        )
        out = tmp_path / "out"
        rc = main(
            [
                "text-stage",
                "--books", str(tmp_path / "metadata_book.csv"),
                "--texts", str(texts),
                "--out", str(out),
            ]
        )
        assert rc == 0
        back = spark.read.parquet(str(out / "sentences"))
        assert back.count() >= 1
        assert back.first().book_id == "ab12cd34"


class TestMonitorCli:
    def test_list_twins(self, capsys):
        assert main(["monitor", "list"]) == 0
        out = capsys.readouterr().out
        assert "benford" in out and "name-linkage" in out and "hll" in out

    def test_unknown_twin(self, capsys):
        assert main(["monitor", "nope", "--partials", "/tmp/x"]) == 2

    def test_missing_partials(self, capsys):
        assert main(["monitor", "benford"]) == 2

    def test_stray_flag_errors(self, capsys):
        # a flag the twin doesn't accept must error, not be silently
        # dropped (a misremembered `monitor benford --k 5` used to
        # print a readout the flag never influenced)
        assert main(
            ["monitor", "benford", "--k", "5", "--partials", "/tmp/x"]
        ) == 2
        err = capsys.readouterr().err
        assert "--k" in err and "accepts no flags" in err

    def test_linkage_snapshot_roundtrip(self, spark, tmp_path, capsys):
        from pyspark.sql import functions as F

        partials = str(tmp_path / "partials")
        spark.createDataFrame(
            [("alice cooper", 2), ("alice coopar", 1), ("bob", 1)],
            "nm string, n_recs long",
        ).write.parquet(f"{partials}/batch_id=0")
        rc = main(
            ["monitor", "name-linkage", "--partials", partials,
             "--radius", "2"]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "alice coopar" in out and "alice cooper" in out

    def test_hll_snapshot_roundtrip(self, spark, tmp_path, capsys):
        from vnavc_spark.operators.aggregates import hll_register_maxima

        partials = str(tmp_path / "partials")
        rows = spark.createDataFrame(
            [("HI", 7), ("HI", 11), ("LO", 7)], "g string, v long"
        )
        hll_register_maxima(rows, ["g"], "v").write.parquet(
            f"{partials}/regs/batch_id=0"
        )
        rows.distinct().write.parquet(f"{partials}/vals/batch_id=0")
        assert main(["monitor", "hll", "--partials", partials]) == 0
        out = capsys.readouterr().out
        assert "hll_estimate" in out and "n_exact" in out


class TestIncrementalDedupCli:
    def test_two_runs_second_is_noop(self, spark, tmp_path, capsys):
        sig = str(tmp_path / "sigs")
        rc = main(
            ["dedup", "--incremental", "--sig-dir", sig, "--sf-dir", SF_SMALL]
        )
        assert rc == 0
        out1 = capsys.readouterr().out
        assert "staged" in out1 and "staged 0" not in out1
        rc = main(
            ["dedup", "--incremental", "--sig-dir", sig, "--sf-dir", SF_SMALL]
        )
        assert rc == 0
        out2 = capsys.readouterr().out
        assert "staged 0 new signatures" in out2
        assert "corpus unchanged" in out2

    def test_incremental_requires_sig_dir(self, spark, capsys):
        assert main(["dedup", "--incremental", "--sf-dir", SF_SMALL]) == 2


class TestErCli:
    def test_er_runs_and_second_run_stages_nothing(
        self, spark, tmp_path, capsys
    ):
        var = str(tmp_path / "vars")
        rc = main(
            ["er", "--var-path", var, "--sf-dir", SF_SMALL, "--limit", "3"]
        )
        assert rc == 0
        out1 = capsys.readouterr().out
        assert "staged" in out1 and "staged 0" not in out1
        assert "entities" in out1 and "entity_id" in out1
        rc = main(
            ["er", "--var-path", var, "--sf-dir", SF_SMALL, "--limit", "3"]
        )
        assert rc == 0
        out2 = capsys.readouterr().out
        assert "staged 0 new names" in out2


class TestExplainCli:
    def test_explain_prints_plan_and_audit(self, spark, capsys):
        assert main(["explain", "q01_region_revenue", "--sf-dir", SF_SMALL]) == 0
        out = capsys.readouterr().out
        assert "BroadcastHashJoin" in out or "broadcast=" in out
        assert "-- audit:" in out

    def test_explain_unknown(self, spark, capsys):
        assert main(["explain", "nope"]) == 2


class TestVerifyCli:
    def test_verify_single_query(self, spark, capsys):
        from tests.conftest import SF_SMALL
        from vnavc_spark.__main__ import main

        assert main(["verify", "q01_region_revenue", "--sf-dir", SF_SMALL]) == 0
        out = capsys.readouterr().out
        assert "OK   q01_region_revenue" in out
        assert "0 failures" in out

    def test_verify_skips_oracle_free(self, spark, capsys):
        # since round 8 every REGISTERED query carries an oracle
        # (q47 was the last rows-only entry), so the SKIP path is
        # exercised with a temporary oracle-free registration
        from tests.conftest import SF_SMALL

        import vnavc_spark.queries as qmod
        from vnavc_spark.__main__ import main

        name = "qtmp_no_oracle"
        qmod.QUERIES[name] = lambda spark, sf_dir: spark.range(1)
        try:
            assert name not in qmod.ORACLE
            assert main(["verify", name, "--sf-dir", SF_SMALL]) == 0
            assert "SKIP" in capsys.readouterr().out
        finally:
            del qmod.QUERIES[name]

    def test_registry_has_no_oracle_free_queries(self):
        # the round-7 verdict's item #5: zero rows-only entries —
        # every registered query must ship a DuckDB oracle
        import vnavc_spark.queries as qmod

        missing = sorted(set(qmod.QUERIES) - set(qmod.ORACLE))
        assert not missing, f"queries without oracles: {missing}"

    def test_verify_unknown(self, spark, capsys):
        from vnavc_spark.__main__ import main

        assert main(["verify", "nope"]) == 2


class TestTwinRegistry:
    """The single-authority twin registry (ingest.TWINS): the CLI
    table and docs/MONITORS.md both derive from it, so these pins
    are the 'CLI and doc agree' guarantee."""

    def test_monitors_doc_is_current(self):
        import os
        import subprocess
        import sys as _sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        r = subprocess.run(
            [
                _sys.executable,
                os.path.join(repo, "tools", "gen_monitors.py"),
                "--check",
            ],
            capture_output=True,
            text=True,
        )
        assert r.returncode == 0, r.stderr

    def test_registry_integrity(self):
        from vnavc_spark.queries import QUERIES
        from vnavc_spark.streaming import ingest

        from vnavc_spark.operators.mergeable import Spec

        assert len(ingest.TWINS) >= 14
        for name, info in ingest.TWINS.items():
            # the spec factory builds a Spec with its defaults; a
            # twin's own starter must exist and be callable
            assert isinstance(info["spec"](), Spec), name
            start = info.get("start", "start_partials")
            assert callable(getattr(ingest, start)), name
            # every parity target is a registered query
            for q in info["batch"]:
                assert q in QUERIES, (name, q)

    def test_cli_table_matches_registry(self):
        from vnavc_spark.__main__ import _monitor_snapshots
        from vnavc_spark.streaming import ingest

        snaps = _monitor_snapshots()
        assert set(snaps) == set(ingest.TWINS)
        for name, (spec, flags) in snaps.items():
            assert spec is ingest.TWINS[name]["spec"]
            assert flags == tuple(ingest.TWINS[name]["flags"])
