"""Semantic unit tests for the round-4 analytics family (q124-q133):
planted-input invariants that the DuckDB oracle parity sweep
(test_queries_oracle.py) cannot express — multiplicity conservation,
orientation independence, sweep conventions, known-answer inputs.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def _ts(s: str):
    return datetime.datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# intervals: sweep-line concurrency
# ---------------------------------------------------------------------------


def test_max_concurrency_planted(spark):
    from vnavc_spark.operators.intervals import max_concurrency_by_day

    iv = spark.createDataFrame(
        [
            # three overlapping on day 1 (peak 3 at 10:00-10:30)
            (_ts("2024-01-01 09:00:00"), _ts("2024-01-01 11:00:00")),
            (_ts("2024-01-01 09:30:00"), _ts("2024-01-01 10:30:00")),
            (_ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
            # lone interval later that day
            (_ts("2024-01-01 20:00:00"), _ts("2024-01-01 21:00:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in max_concurrency_by_day(iv).collect()}
    assert rows["2024-01-01"]["max_concurrent"] == 3
    assert rows["2024-01-01"]["n_sessions"] == 4


def test_max_concurrency_midnight_carry(spark):
    """An interval crossing midnight counts toward BOTH days, and the
    second day sees it as carry-in from its midnight clip."""
    from vnavc_spark.operators.intervals import max_concurrency_by_day

    iv = spark.createDataFrame(
        [
            (_ts("2024-01-01 23:00:00"), _ts("2024-01-02 01:00:00")),
            (_ts("2024-01-02 00:30:00"), _ts("2024-01-02 00:45:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in max_concurrency_by_day(iv).collect()}
    assert rows["2024-01-01"]["max_concurrent"] == 1
    assert rows["2024-01-02"]["max_concurrent"] == 2  # carry + new
    assert rows["2024-01-02"]["n_sessions"] == 2


def test_max_concurrency_touching_endpoints_overlap(spark):
    """Closed-interval convention: a session starting exactly when
    another ends counts as overlapping (starts sweep before ends)."""
    from vnavc_spark.operators.intervals import max_concurrency_by_day

    iv = spark.createDataFrame(
        [
            (_ts("2024-01-01 09:00:00"), _ts("2024-01-01 10:00:00")),
            (_ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = max_concurrency_by_day(iv).collect()
    assert rows[0]["max_concurrent"] == 2


HOUR_US = 3_600_000_000


def test_coverage_islands_merge_touch_and_drop(spark):
    """Overlapping intervals merge; touching intervals merge (closed
    convention); zero-length and inverted intervals drop."""
    from vnavc_spark.operators.intervals import coverage_by_day

    iv = spark.createDataFrame(
        [
            (_ts("2024-01-01 09:00:00"), _ts("2024-01-01 10:00:00")),
            (_ts("2024-01-01 09:30:00"), _ts("2024-01-01 11:00:00")),
            (_ts("2024-01-01 12:00:00"), _ts("2024-01-01 12:30:00")),
            (_ts("2024-01-01 12:30:00"), _ts("2024-01-01 13:00:00")),
            (_ts("2024-01-01 15:00:00"), _ts("2024-01-01 15:00:00")),
            (_ts("2024-01-01 16:00:00"), _ts("2024-01-01 15:30:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in coverage_by_day(iv).collect()}
    r = rows["2024-01-01"]
    assert r["n_islands"] == 2  # [9-11] and [12-13]
    assert r["covered_us"] == 3 * HOUR_US
    assert r["longest_us"] == 2 * HOUR_US


def test_coverage_midnight_clip(spark):
    """A midnight-crossing interval contributes its clip to each day
    and merges with the next day's intervals at 00:00."""
    from vnavc_spark.operators.intervals import coverage_by_day

    iv = spark.createDataFrame(
        [
            (_ts("2024-01-01 23:00:00"), _ts("2024-01-02 01:00:00")),
            (_ts("2024-01-02 00:30:00"), _ts("2024-01-02 02:00:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in coverage_by_day(iv).collect()}
    assert rows["2024-01-01"]["covered_us"] == HOUR_US
    assert rows["2024-01-01"]["n_islands"] == 1
    assert rows["2024-01-02"]["covered_us"] == 2 * HOUR_US
    assert rows["2024-01-02"]["n_islands"] == 1


def test_coverage_hour_carry_keeps_island_open(spark):
    """An interval starting in a LATER hour bucket whose start is
    still under an earlier hour's running end-max must not open a new
    island — the per-day hour-carry max is what sees it."""
    from vnavc_spark.operators.intervals import coverage_by_day

    iv = spark.createDataFrame(
        [
            (_ts("2024-01-01 09:00:00"), _ts("2024-01-01 12:00:00")),
            # first (only) row of hour bucket 10: pmax_loc is null,
            # the 09:00 interval's end arrives via the hour carry
            (_ts("2024-01-01 10:15:00"), _ts("2024-01-01 10:45:00")),
            (_ts("2024-01-01 12:30:00"), _ts("2024-01-01 12:45:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in coverage_by_day(iv).collect()}
    r = rows["2024-01-01"]
    assert r["n_islands"] == 2
    assert r["covered_us"] == 3 * HOUR_US + HOUR_US // 4
    assert r["longest_us"] == 3 * HOUR_US


def test_session_intervals_gap_split(spark):
    from vnavc_spark.operators.intervals import session_intervals

    e = spark.createDataFrame(
        [
            (1, 1, _ts("2024-01-01 09:00:00")),
            (1, 2, _ts("2024-01-01 09:10:00")),
            (1, 3, _ts("2024-01-01 10:10:00")),  # > 30 min gap → new
        ],
        "user_id long, event_id long, ts timestamp",
    )
    iv = session_intervals(e).orderBy("s_start").collect()
    assert len(iv) == 2
    assert iv[0]["s_end"] == _ts("2024-01-01 09:10:00")
    assert iv[1]["s_start"] == _ts("2024-01-01 10:10:00")


# ---------------------------------------------------------------------------
# graph: triangle counting
# ---------------------------------------------------------------------------


def test_triangle_stats_k4(spark):
    from vnavc_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4, "a long, b long")
    row = triangle_stats(e).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 6
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 12  # 4 nodes × C(3,2)
    assert row["clustering"] == 1.0


def test_triangle_stats_path_graph(spark):
    from vnavc_spark.operators.graph import triangle_stats

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    row = triangle_stats(e).collect()[0]
    assert row["n_triangles"] == 0
    assert row["clustering"] == 0.0


def test_triangle_stats_hub_star_plus_triangle(spark):
    """A hub (star) has many wedges but no triangles unless leaves
    connect; the degree orientation must still count the one planted
    triangle exactly once."""
    from vnavc_spark.operators.graph import triangle_stats

    star = [(1, x) for x in range(2, 12)]
    e = spark.createDataFrame(star + [(2, 3)], "a long, b long")
    row = triangle_stats(e).collect()[0]
    assert row["n_triangles"] == 1


def test_triangle_stats_driver_gate_parity(spark):
    """Round-13 size gate: the cap-gated driver count must be
    row-identical (all five columns, incl. the floor-rounded
    clustering double) to the distributed SV wedge join (cap 0)."""
    from vnavc_spark.operators.graph import triangle_stats

    star = [(1, x) for x in range(2, 12)]
    tri = [(2, 3), (3, 4), (2, 4), (12, 13)]
    e = spark.createDataFrame(star + tri, "a long, b long")
    fast = triangle_stats(e).collect()[0].asDict()
    slow = triangle_stats(e, driver_edge_cap=0).collect()[0].asDict()
    assert fast == slow


def test_triangle_stats_self_loop_agrees_under_and_over_cap(spark):
    """Round-14 (r13 ADVICE): a contract-violating self-loop edge
    (a, a) must produce IDENTICAL stats on the driver and distributed
    paths — self-loops are dropped at the defensive dedup, so neither
    path counts the phantom triangle the driver orientation used to
    report."""
    from vnavc_spark.operators.graph import triangle_stats

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (5, 5)], "a long, b long"
    )
    fast = triangle_stats(e).collect()[0].asDict()
    slow = triangle_stats(e, driver_edge_cap=0).collect()[0].asDict()
    assert fast == slow
    assert fast["n_triangles"] == 1 and fast["n_edges"] == 3


def test_triangle_stats_cap_counts_doubled_edges(spark, monkeypatch):
    """Round-14 (r13 ADVICE): the shared driver cap is documented as
    a DOUBLED-edge budget; triangle_stats holds an undoubled table,
    so a cap of 2n-1 must route distributed and 2n driver."""
    from vnavc_spark.operators import graph

    calls = []
    real = graph._driver_triangle_stats
    monkeypatch.setattr(
        graph,
        "_driver_triangle_stats",
        lambda e: calls.append(1) or real(e),
    )
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a long, b long"
    )
    r_dist = graph.triangle_stats(e, driver_edge_cap=5).collect()[0]
    assert not calls  # 2*3 = 6 > 5 -> distributed
    r_drv = graph.triangle_stats(e, driver_edge_cap=6).collect()[0]
    assert calls  # 6 <= 6 -> driver mirror
    assert r_dist.asDict() == r_drv.asDict()


# ---------------------------------------------------------------------------
# sampling: systematic PPS
# ---------------------------------------------------------------------------


def test_pps_multiplicity_conserved(spark):
    from vnavc_spark.operators.sampling import pps_systematic

    d = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(200)], "id long, w long"
    )
    out = pps_systematic(d, "id", "w", k=20).collect()
    assert sum(r["mult"] for r in out) == 20
    assert all(r["mult"] >= 1 for r in out)


def test_pps_heavy_item_always_selected(spark):
    """An item with weight > T/k must cross a step boundary."""
    from vnavc_spark.operators.sampling import pps_systematic

    rows = [(i, 1) for i in range(50)] + [(999, 1000)]
    d = spark.createDataFrame(rows, "id long, w long")
    out = {r["id"]: r for r in pps_systematic(d, "id", "w", k=10).collect()}
    assert 999 in out
    # weight 1000 of total 1050 at k=10 → ≥ 9 of the 10 steps
    assert out[999]["mult"] >= 9


def test_pps_nonpositive_weights_dropped(spark):
    from vnavc_spark.operators.sampling import pps_systematic

    d = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -3), (4, 5)], "id long, w long"
    )
    out = pps_systematic(d, "id", "w", k=2).collect()
    assert {r["id"] for r in out} <= {1, 4}
    assert sum(r["mult"] for r in out) == 2


# ---------------------------------------------------------------------------
# registered-query semantics on planted frames
# ---------------------------------------------------------------------------


def test_intra_doc_repetition_known_answer(spark, tmp_path):
    import vnavc_spark.queries as Qr

    docs = spark.createDataFrame(
        [
            (1, "a b a b a", "en", "s", 9),
            (2, "x y z", "en", "s", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in Qr.q125_intra_doc_repetition(spark, str(tmp_path)).collect()
    }
    # doc 1 bigrams: [a b, b a, a b, b a] → 4 total, 2 distinct
    assert out[1]["total_2"] == 4 and out[1]["rep_2"] == 2
    assert out[1]["rep2_frac"] == 0.5
    # doc 2: no repeats at all
    assert out[2]["rep_2"] == 0 and out[2]["rep_3"] == 0


def test_changepoint_planted_shift(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = []
    for i in range(6):
        v = 0.0 if i < 3 else 10.0
        rows.append(
            (i, base + datetime.timedelta(minutes=i), 1, "a", v, "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = Qr.q129_changepoint(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["k_star"] == 3  # split after the third point


def test_chi_square_absent_cell_surfaces(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = [
        (1, 10, "O", 5.0, base, "HIGH"),
        (2, 11, "F", 5.0, base, "HIGH"),
        (3, 12, "O", 5.0, base, "LOW"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    out = Qr.q128_chi_square(spark, str(tmp_path)).collect()
    cells = {(r["pri"], r["st"]): r for r in out}
    assert len(cells) == 4  # 2 priorities × 2 statuses, full grid
    assert cells[("LOW", "F")]["obs"] == 0  # absent cell surfaced


def test_market_basket_planted_pair(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = []
    # parts 1,2 co-occur in orders 1..3; part 3 alone with 1 in order 4
    for ok in (1, 2, 3):
        rows += [(ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base),
                 (ok, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", base)]
    rows += [(4, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base),
             (4, 3, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", base)]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        (r["part_a"], r["part_b"]): r
        for r in Qr.q124_market_basket(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in out and out[(1, 2)]["pair_cnt"] == 3
    # lift = pair·N/(cnt_a·cnt_b) = 3·4/(4·3) = 1.0
    assert out[(1, 2)]["lift"] == 1.0
    assert (1, 3) not in out  # support 1 < 2


def test_capped_basket_items_window_form_matches_reference(spark, tmp_path):
    """The r14 one-exchange window-count build of _capped_basket_items
    must equal the distinct→groupBy→join reference form, including at
    the BASKET_MIN/BASKET_MAX boundaries and on duplicate (ok, pk)
    lines that the distinct must collapse BEFORE the size count."""
    from pyspark.sql import functions as F

    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = []
    # order 1: exactly BASKET_MIN distinct parts (kept, boundary) with
    # a duplicated line for part 1 (distinct-before-count coverage);
    # order 2: 1 distinct part (dropped, under MIN);
    # order 3: exactly BASKET_MAX distinct parts (kept, boundary);
    # order 4: BASKET_MAX+1 distinct parts (dropped, over MAX).
    for pk in (1, 1, 2):
        rows.append((1, pk))
    rows.append((2, 9))
    for pk in range(10, 10 + Qr.BASKET_MAX):
        rows.append((3, pk))
    for pk in range(30, 31 + Qr.BASKET_MAX):
        rows.append((4, pk))
    spark.createDataFrame(
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", base)
         for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = sorted(
        tuple(r)
        for r in Qr._capped_basket_items(spark, str(tmp_path)).collect()
    )
    # reference form: distinct → per-order size aggregate → join back
    li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    sz = (
        b.groupBy("ok")
        .agg(F.count("*").alias("_n"))
        .filter(
            (F.col("_n") >= Qr.BASKET_MIN) & (F.col("_n") <= Qr.BASKET_MAX)
        )
        .select("ok")
    )
    want = sorted(tuple(r) for r in b.join(sz, on="ok").collect())
    assert got == want
    kept_orders = {ok for ok, _ in got}
    assert kept_orders == {1, 3}


def test_rfm_scores_within_bounds(spark):
    import vnavc_spark.queries as Qr
    from tests.conftest import SF_SMALL

    out = Qr.q126_rfm_segments(spark, SF_SMALL).collect()
    assert len(out) > 0
    for r in out:
        assert 1 <= r["r_score"] <= 5
        assert 1 <= r["f_score"] <= 5
        assert 1 <= r["m_score"] <= 5
        assert r["segment"] == f"{r['r_score']}{r['f_score']}{r['m_score']}"


def test_pareto_abc_top_part_is_A(spark):
    import vnavc_spark.queries as Qr
    from tests.conftest import SF_SMALL

    out = Qr.q127_pareto_abc(spark, SF_SMALL).collect()
    by_brand: dict = {}
    for r in out:
        by_brand.setdefault(r["brand"], []).append(r)
    for brand, rows in by_brand.items():
        rows.sort(key=lambda r: r["rnk"])
        assert rows[0]["abc"] == "A"
        # classes are monotone A → B → C along the rank order
        order = {"A": 0, "B": 1, "C": 2}
        seq = [order[r["abc"]] for r in rows]
        assert seq == sorted(seq)


def test_rolling_dau_planted_window(spark, tmp_path):
    import vnavc_spark.queries as Qr

    rows = []
    # user 1 active on day 1 and day 5; user 2 on day 5 only
    for i, (u, day) in enumerate([(1, 1), (1, 5), (2, 5)]):
        rows.append(
            (i, _ts(f"2024-01-0{day} 10:00:00"), u, "view", 1.0, "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["day"]: r for r in Qr.q137_rolling_dau(spark, str(tmp_path)).collect()}
    assert out["2024-01-01"]["dau"] == 1 and out["2024-01-01"]["wau7"] == 1
    # day 5: both users active that day; user 1's day-1 activity is
    # within the trailing 7 days but must not double-count them
    assert out["2024-01-05"]["dau"] == 2 and out["2024-01-05"]["wau7"] == 2


def test_funnel_latency_planted(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = [
        # user 1: view at t0, purchase 100s later
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + datetime.timedelta(seconds=100), 1, "purchase", 1.0, "{}"),
        # user 2: purchase BEFORE first view → not converted
        (3, base, 2, "purchase", 1.0, "{}"),
        (4, base + datetime.timedelta(seconds=10), 2, "view", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = Qr.q135_funnel_latency(spark, str(tmp_path)).collect()
    stats = {r["target"]: r for r in out}
    assert stats["p50"]["n_rows"] == 1  # only user 1 converted
    assert stats["p50"]["value"] == 100.0


def test_journey_trigrams_planted(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    seq = ["view", "click", "purchase", "view"]
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, t, 1.0, "{}")
        for i, t in enumerate(seq)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {r["trigram"]: r["n"] for r in Qr.q136_journey_trigrams(spark, str(tmp_path)).collect()}
    assert out == {"view>click>purchase": 1, "click>purchase>view": 1}


def test_mad_fences_catch_planted_extreme(spark, tmp_path):
    # q134 re-pointed at events.value in round 13 (the lineitem
    # price column's max deviation is 2 MADs at every SF, so the
    # fence could never fire there) — same planted-extreme contract
    # on the new shape
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    rows = [
        (i, base, 1, "click", 100.0 + (i % 5), "{}") for i in range(40)
    ]
    rows.append((99, base, 1, "click", 10000.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = Qr.q134_mad_fences(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_outliers"] == 1 and r["out_hi"] == 10000.0
    # the extreme must not have moved the fence center materially
    assert 100.0 <= r["med"] <= 105.0


def test_cart_abandonment_boundary(spark, tmp_path):
    """Purchase exactly 3600s after the view converts; 3601s does
    not; a purchase in the same second does not (strict psec>vsec)."""
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 12:00:00")
    rows = [
        (1, base, 1, "view", 1.0, "{}"),
        (2, base + datetime.timedelta(seconds=3600), 1, "purchase", 1.0, "{}"),
        (3, base, 2, "view", 1.0, "{}"),
        (4, base + datetime.timedelta(seconds=3601), 2, "purchase", 1.0, "{}"),
        (5, base, 3, "view", 1.0, "{}"),
        (6, base, 3, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = Qr.q142_cart_abandonment(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_views"] == 3
    assert r["n_converted"] == 1  # only user 1
    assert r["n_abandoned"] == 2


def test_embedding_outlier_planted(spark, tmp_path):
    import vnavc_spark.queries as Qr

    rows = []
    for i in range(20):
        rows.append((i, [0.5, 0.5, 0.5], 1))
    rows.append((99, [-0.9, 0.9, -0.9], 1))  # planted outlier
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = Qr.q143_embedding_outliers(spark, str(tmp_path)).collect()
    top = sorted(out, key=lambda r: -r["dist"])[0]
    assert top["vec_id"] == 99
    assert top["dist"] > max(
        r["dist"] for r in out if r["vec_id"] != 99
    )


def test_decile_lift_invariants(spark):
    import vnavc_spark.queries as Qr
    from tests.conftest import SF_SMALL

    out = Qr.q138_decile_lift(spark, SF_SMALL).collect()
    by_seg: dict = {}
    for r in out:
        by_seg.setdefault(r["seg"], []).append(r)
    for seg, rows in by_seg.items():
        rows.sort(key=lambda r: r["decile"])
        assert rows[-1]["cum_share"] == 1.0  # cumulative closes at 1
        shares = [r["share"] for r in rows]
        # decile 1 (top spenders) must hold the largest share
        assert shares[0] == max(shares)
        assert all(1 <= r["decile"] <= 10 for r in rows)


def test_interpurchase_gap_planted(spark, tmp_path):
    import vnavc_spark.queries as Qr

    base = _ts("2024-01-01 00:00:00")
    orders = []
    # customer 1 orders on days 0, 2, 6 → gaps 2, 4 → median 2
    for i, day in enumerate((0, 2, 6)):
        orders.append(
            (i, 10, "O", 5.0, base + datetime.timedelta(days=day), "HIGH")
        )
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, "c", 1, 0.0, "SEG")],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).write.parquet(str(tmp_path / "customer.parquet"))
    out = Qr.q140_interpurchase_gap(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 2 and out[0]["median"] == 2.0


def test_equiwidth_histogram_invariants(spark):
    import vnavc_spark.queries as Qr
    from tests.conftest import SF_SMALL

    out = sorted(
        Qr.q146_equiwidth_histogram(spark, SF_SMALL).collect(),
        key=lambda r: r["bin"],
    )
    assert 1 <= len(out) <= 10
    # bins tile the range contiguously and fracs sum to ~1
    for a, b in zip(out, out[1:]):
        assert b["bin_lo"] >= a["bin_lo"]
    total = sum(r["cnt"] for r in out)
    assert abs(sum(r["frac"] for r in out) - 1.0) < 1e-4
    assert total > 0


def test_weighted_p90_dominates_weighted_median(spark):
    import vnavc_spark.queries as Qr
    from tests.conftest import SF_SMALL

    p90 = {r["l_returnflag"]: r["qvalue"]
           for r in Qr.q147_weighted_p90(spark, SF_SMALL).collect()}
    p50 = {r["l_returnflag"]: r["wmedian"]
           for r in Qr.q123_weighted_median(spark, SF_SMALL).collect()}
    for g in p90:
        assert p90[g] >= p50[g]


def test_weighted_quantile_heavy_mass_pull(spark):
    from vnavc_spark.operators.aggregates import weighted_quantile_select

    # 9 rows of value 1 with weight 1, one row of value 100 with
    # weight 81: p90 rank = ceil(0.9*90) = 81 ... cumulative mass of
    # value 1 is 9, so the p90 must land on the heavy value
    df = spark.createDataFrame(
        [(1, 1.0, 1.0)] * 9 + [(1, 100.0, 81.0)],
        "g int, v double, w double",
    )
    out = weighted_quantile_select(
        df, ["g"], "v", "w", q_num=9, q_den=10, places=2, weight_places=0
    ).collect()
    assert out[0]["qvalue"] == 100.0


def test_embedding_outliers_no_int64_overflow_on_large_label(spark, tmp_path):
    """Regression (round-4 review): the per-dim squared term used to
    be squared in int64 — with unit-scale components the square
    wraps once a label holds ~1.5k vectors, silently corrupting the
    ranking while the DuckDB oracle errors. The decimal(19)² lift
    must keep the planted extreme on top at 2k vectors/label."""
    import vnavc_spark.queries as Qr

    rows = [(i, [1.0 if i % 2 else -1.0, 1.0, -1.0], 1) for i in range(2000)]
    rows.append((9999, [-1.0, -1.0, 1.0], 1))  # far from the mean
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = Qr.q143_embedding_outliers(spark, str(tmp_path)).collect()
    assert all(r["dist"] >= 0 for r in out)  # a wrap would go negative
    top = max(out, key=lambda r: r["dist"])
    assert top["vec_id"] == 9999


def test_max_concurrency_inverted_interval_dropped(spark):
    """end < start (malformed input) must contribute NOTHING — the
    SQL oracle's generate_series is empty for an inverted range,
    while F.sequence would step BACKWARDS and explode a descending
    garbage day list (round-5 advice)."""
    from vnavc_spark.operators.intervals import max_concurrency_by_day

    iv = spark.createDataFrame(
        [
            # inverted: a year "backwards" — would explode ~365
            # bogus days without the guard
            (_ts("2024-12-31 10:00:00"), _ts("2024-01-01 10:00:00")),
            (_ts("2024-06-01 09:00:00"), _ts("2024-06-01 10:00:00")),
        ],
        "s_start timestamp, s_end timestamp",
    )
    rows = {r["day"]: r for r in max_concurrency_by_day(iv).collect()}
    assert set(rows) == {"2024-06-01"}
    assert rows["2024-06-01"]["max_concurrent"] == 1


def test_pps_overflow_guard_fires_even_when_long_sum_wraps(spark):
    """The guard total rides decimal(38,0): under non-ANSI Spark a
    LONG total wraps silently past 2^63 and could arrive small or
    negative — passing the assert in exactly the regime it exists to
    catch (round-5 advice). Three 2^62 weights wrap the long sum to
    a negative; the decimal total must still trip the guard."""
    import pytest

    from vnavc_spark.operators.sampling import pps_systematic

    d = spark.createDataFrame(
        [("a", 2**62), ("b", 2**62), ("c", 2**62)], "id string, w long"
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="pps_systematic|ASSERT"):
            pps_systematic(d, "id", "w", k=10).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_reuse_probe_counts_expected_errors_and_raises_unexpected(spark):
    """The plan-reuse probe must not hide arbitrary exceptions: a
    bare `except Exception` made a genuine py4j error look like the
    intended stale-session fallthrough, so reuse could silently never
    trigger (round-5 advice). Expected bridge errors are counted and
    fall through to the swap; anything else propagates."""
    import pytest
    from py4j.protocol import Py4JError

    from vnavc_spark import cache as C

    df = spark.range(3)

    class _Boom:
        def __init__(self, exc):
            self._exc = exc

        def queryExecution(self):
            raise self._exc

    # seed the slot, then probe with an old df whose JVM handle is
    # broken in a way the probe should treat as expected
    C.tracked_persist(df, "reuse_probe_test")
    C._SLOTS["reuse_probe_test"][0]._jdf = _Boom(Py4JError("gateway dead"))
    before = C.REUSE_PROBE_FAILURES
    out = C.tracked_persist(
        spark.range(3), "reuse_probe_test", reuse_same_plan=True
    )
    assert C.REUSE_PROBE_FAILURES == before + 1
    assert out is not None  # fell through to a fresh persist

    # an UNEXPECTED error type must propagate, not be swallowed
    C._SLOTS["reuse_probe_test"][0]._jdf = _Boom(ValueError("not a bridge error"))
    with pytest.raises(ValueError):
        C.tracked_persist(
            spark.range(3), "reuse_probe_test", reuse_same_plan=True
        )
    # cleanup: drop the broken entry so later tests can't trip on it
    C._SLOTS.pop("reuse_probe_test", None)


def test_reuse_probe_still_reuses_live_identical_plan(spark):
    from vnavc_spark import cache as C

    a = C.tracked_persist(spark.range(10), "reuse_live_test")
    a.count()
    b = C.tracked_persist(
        spark.range(10), "reuse_live_test", reuse_same_plan=True
    )
    assert b is a
    C._SLOTS.pop("reuse_live_test", None)
    a.unpersist()


def test_trim_slots_bounds_population_keeps_newest(spark):
    """Round-13 session hygiene: trim_slots evicts the OLDEST slots
    past keep_n, keeps the newest (adjacent-query plan reuse must
    survive), and evicted frames still recompute correctly."""
    from vnavc_spark import cache as C

    C.clear_tracked()
    frames = {}
    for i in range(6):
        frames[f"trim_test_{i}"] = C.tracked_persist(
            spark.range(i + 1), f"trim_test_{i}"
        )
        frames[f"trim_test_{i}"].count()
    evicted = C.trim_slots(keep_n=2)
    assert evicted == 4
    assert list(C._SLOTS) == ["trim_test_4", "trim_test_5"]
    # evicted frames recompute (eviction only drops the cache)
    assert frames["trim_test_0"].count() == 1
    # keep_n=0 disables trimming
    assert C.trim_slots(keep_n=0) == 0
    assert len(C._SLOTS) == 2
    C.clear_tracked()


def test_trim_slots_is_lru_not_fifo(spark):
    """Round-14 (r13 ADVICE): a slot kept warm through reuse — via a
    reuse_same_plan hit OR a re-persist — must be treated as recent
    by trim_slots; FIFO insertion order would evict it while colder,
    later-inserted slots survive."""
    from vnavc_spark import cache as C

    C.clear_tracked()
    hot = C.tracked_persist(
        spark.range(7), "lru_hot", reuse_same_plan=True
    )
    hot.count()
    for i in range(3):
        C.tracked_persist(spark.range(i + 1), f"lru_cold_{i}").count()
    # reuse hit refreshes the hot slot's recency
    again = C.tracked_persist(
        spark.range(7), "lru_hot", reuse_same_plan=True
    )
    assert again is hot
    C.trim_slots(keep_n=2)
    assert list(C._SLOTS) == ["lru_cold_2", "lru_hot"]
    # re-persist (the swap path) also refreshes recency
    C.tracked_persist(spark.range(9), "lru_cold_2").count()
    C.tracked_persist(spark.range(11), "lru_hot").count()
    C.tracked_persist(spark.range(13), "lru_newest").count()
    C.trim_slots(keep_n=2)
    assert list(C._SLOTS) == ["lru_hot", "lru_newest"]
    C.clear_tracked()


def test_incremental_dau_chunk_guard_and_parity(spark, tmp_path):
    # >64 weekly chunks must fail fast (staging loop is driver-side);
    # and at a sane span the incremental result equals the batch
    # day-explode form on the same parquet
    import pytest

    from vnavc_spark.queries import QUERIES

    # 65 weeks of single events -> guard trips
    wide = tmp_path / "wide"
    wide.mkdir()
    spark.createDataFrame(
        [
            (i, f"2024-01-01 00:00:{0:02d}", i, "click", 1.0)
            for i in range(1)
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn(
        "ts", F.to_timestamp("ts") + F.expr("make_interval(0,0,event_id*65,0,0,0)")
    ).write.parquet(str(wide / "events.parquet"))
    # one row can't trip it; build 65 rows a week apart
    import shutil

    shutil.rmtree(wide / "events.parquet")
    spark.createDataFrame(
        [(i, i) for i in range(65)], "event_id long, wk long"
    ).select(
        "event_id",
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.expr("make_interval(0,0,wk,0,0,0)")).alias("ts"),
        F.lit(1).cast("long").alias("user_id"),
        F.lit("click").alias("event_type"),
        F.lit(1.0).alias("value"),
    ).write.parquet(str(wide / "events.parquet"))
    with pytest.raises(ValueError, match="chunk"):
        QUERIES["q154_rolling_dau_incremental"](spark, str(wide)).count()

    # parity on a 3-week span crossing chunk boundaries
    ok = tmp_path / "ok"
    ok.mkdir()
    spark.createDataFrame(
        [(i, i % 20, i % 5) for i in range(200)],
        "event_id long, day long, user_id long",
    ).select(
        "event_id",
        (F.to_timestamp(F.lit("2024-01-01 08:00:00"))
         + F.expr("make_interval(0,0,0,day,0,0)")).alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
    ).write.parquet(str(ok / "events.parquet"))
    inc = {
        (r.day, r.dau, r.wau7)
        for r in QUERIES["q154_rolling_dau_incremental"](
            spark, str(ok)
        ).collect()
    }
    batch = {
        (r.day, r.dau, r.wau7)
        for r in QUERIES["q137_rolling_dau"](spark, str(ok)).collect()
    }
    assert inc == batch and len(inc) == 20


def test_staged_dau_resumes_from_state_dir(spark, tmp_path):
    # round-9 verdict item #4: the production claim — run chunks
    # 1..k against a caller-supplied state_dir, REOPEN the directory
    # in a fresh invocation for the remaining chunks, and the
    # resumed result must hash-match the batch form. Also pins
    # idempotency: re-running an already-staged week appends nothing.
    from vnavc_spark.queries import QUERIES, q154_rolling_dau_incremental

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(i, i % 20, i % 5) for i in range(200)],
        "event_id long, day long, user_id long",
    ).select(
        "event_id",
        (F.to_timestamp(F.lit("2024-01-01 08:00:00"))
         + F.expr("make_interval(0,0,0,day,0,0)")).alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
    ).write.parquet(str(src / "events.parquet"))
    state = str(tmp_path / "state")

    # the 20-day span covers 4 epoch weeks; split 2 + 2
    e = spark.read.parquet(str(src / "events.parquet"))
    wks = sorted(
        r["wk"]
        for r in e.select(
            F.expr("datediff(to_date(ts), date'1970-01-01') div 7").alias("wk")
        ).distinct().collect()
    )
    assert len(wks) >= 3
    first, rest = wks[:2], wks[2:]

    partial = q154_rolling_dau_incremental(
        spark, str(src), state_dir=state, weeks=first
    ).collect()
    assert 0 < len(partial) < 20  # only the staged prefix reports

    # fresh invocation, same directory: resumes, completes the series
    resumed = {
        (r.day, r.dau, r.wau7)
        for r in q154_rolling_dau_incremental(
            spark, str(src), state_dir=state, weeks=rest
        ).collect()
    }
    batch = {
        (r.day, r.dau, r.wau7)
        for r in QUERIES["q137_rolling_dau"](spark, str(src)).collect()
    }
    assert resumed == batch and len(resumed) == 20

    # idempotency: re-running week chunks already staged is a no-op
    again = {
        (r.day, r.dau, r.wau7)
        for r in q154_rolling_dau_incremental(
            spark, str(src), state_dir=state, weeks=wks
        ).collect()
    }
    assert again == batch

    # empty state dir + no chunks selected -> empty result, no error
    empty = q154_rolling_dau_incremental(
        spark, str(src), state_dir=str(tmp_path / "nostate"), weeks=[]
    )
    assert empty.count() == 0
