"""Semantic unit tests for the round-6 operators on hand-built
inputs where the expected outcome is known by construction. Parity
(tools/parity.py) separately pins each against DuckDB on the driver
corpus; these pin the operator DEFINITIONS.

Each test writes a tiny table into tmp_path under the driver's
table-naming contract and calls the registered query with that
directory — the full production code path, not a reimplementation.
"""

from __future__ import annotations

import datetime as dt

from tests.conftest import write_star_table


def _write(spark, tmp_path, name: str, rows, schema: str) -> str:
    write_star_table(
        spark.createDataFrame(rows, schema).coalesce(1), str(tmp_path), name
    )
    return str(tmp_path)


def _ts(day: int, hour: int = 0, minute: int = 0, second: int = 0):
    return dt.datetime(2024, 1, day, hour, minute, second)


# ---------------------------------------------------------------------------
# exact two-pass median == sorted-middle element
# ---------------------------------------------------------------------------


def test_exact_median_two_pass_known_values(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        exact_median_two_pass,
    )

    # flag A: 1..5 dollars → lower median 3.00 → 300 cents
    # flag B: {10, 20, 30, 40} → lower median (n+1)//2 = 2nd → 20.00
    rows = [("A", float(v)) for v in (1, 2, 3, 4, 5)] + [
        ("B", float(v)) for v in (10, 20, 30, 40)
    ]
    sf = _write(
        spark,
        tmp_path,
        "lineitem",
        rows,
        "l_returnflag string, l_extendedprice double",
    )
    got = {
        r["l_returnflag"]: (r["n"], r["median_cents"])
        for r in exact_median_two_pass(spark, sf).collect()
    }
    assert got == {"A": (5, 300), "B": (4, 2000)}


# ---------------------------------------------------------------------------
# table checksum is independent of row order
# ---------------------------------------------------------------------------


def test_table_checksum_order_independent(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        table_checksum_star,
    )

    orders = [(i, "O" if i % 2 else "F", 100.0 + i) for i in range(50)]
    cust = [(i, "BUILDING" if i % 3 else "MACHINERY") for i in range(20)]
    nat = [(i, f"NATION_{i}") for i in range(5)]

    d1 = tmp_path / "fwd"
    d2 = tmp_path / "rev"
    for d, o_rows, c_rows, n_rows in (
        (d1, orders, cust, nat),
        (d2, orders[::-1], cust[::-1], nat[::-1]),
    ):
        d.mkdir()
        _write(
            spark, d, "orders", o_rows,
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
        _write(spark, d, "customer", c_rows,
               "c_custkey long, c_mktsegment string")
        _write(spark, d, "nation", n_rows,
               "n_nationkey int, n_name string")

    r1 = {r["tbl"]: r["checksum"] for r in
          table_checksum_star(spark, str(d1)).collect()}
    r2 = {r["tbl"]: r["checksum"] for r in
          table_checksum_star(spark, str(d2)).collect()}
    assert r1 == r2
    assert set(r1) == {"orders", "customer", "nation"}


def test_table_checksum_detects_single_value_change(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        table_checksum_star,
    )

    base = [(i, "O", 100.0) for i in range(10)]
    changed = list(base)
    changed[3] = (3, "F", 100.0)  # one status flipped
    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    for d, o_rows in ((d1, base), (d2, changed)):
        d.mkdir()
        _write(
            spark, d, "orders", o_rows,
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
        _write(spark, d, "customer", [(1, "BUILDING")],
               "c_custkey long, c_mktsegment string")
        _write(spark, d, "nation", [(1, "X")],
               "n_nationkey int, n_name string")
    c1 = {r["tbl"]: r["checksum"] for r in
          table_checksum_star(spark, str(d1)).collect()}
    c2 = {r["tbl"]: r["checksum"] for r in
          table_checksum_star(spark, str(d2)).collect()}
    assert c1["orders"] != c2["orders"]
    assert c1["customer"] == c2["customer"]


# ---------------------------------------------------------------------------
# CEP regex funnel on constructed user paths
# ---------------------------------------------------------------------------


def test_cep_funnel_classifies_paths(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_cep_funnel_regex,
    )

    rows = []
    eid = 0

    def add(user, minute, etype):
        nonlocal eid
        rows.append((eid, _ts(1, 0, minute), user, etype, 1.0, "{}"))
        eid += 1

    # user 1: clean conversion (signup → click → purchase)
    add(1, 0, "signup"); add(1, 1, "click"); add(1, 2, "purchase")
    # user 2: error before converting (signup → error → click → purchase)
    add(2, 0, "signup"); add(2, 1, "error"); add(2, 2, "click")
    add(2, 3, "purchase")
    # user 3: no conversion at all
    add(3, 0, "view"); add(3, 1, "view")
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = events_cep_funnel_regex(spark, sf).collect()[0]
    assert r["n_users"] == 3
    assert r["n_clean_convert"] == 1
    assert r["n_error_recovered"] == 1


# ---------------------------------------------------------------------------
# decision stump finds the perfectly separating split
# ---------------------------------------------------------------------------


def test_decision_stump_perfect_split(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        decision_stump_discount_returns,
    )

    # discount 0% → never returned; 10% → always returned
    rows = [(0.0, "N")] * 20 + [(0.10, "R")] * 20
    sf = _write(
        spark, tmp_path, "lineitem", rows,
        "l_discount double, l_returnflag string",
    )
    out = decision_stump_discount_returns(spark, sf).collect()
    best = [r for r in out if r["is_best"] == 1]
    assert len(best) == 1
    assert best[0]["threshold"] == 0
    assert best[0]["weighted_gini"] == 0.0


# ---------------------------------------------------------------------------
# Holt-Winters on a constant series fits the constant with zero trend
# ---------------------------------------------------------------------------


def test_holt_winters_constant_series(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_holt_winters_additive,
    )

    rows = [
        (d, _ts(d), 1, "click", 1.0, "{}") for d in range(1, 21)
    ]  # one event per day → constant daily count 1
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = events_holt_winters_additive(spark, sf).collect()
    assert len(out) == 13  # t = 8..20
    for r in out:
        assert r["fitted"] == 1.0
        assert r["trend"] == 0.0


# ---------------------------------------------------------------------------
# lateness profiler: an in-order stream has zero lateness
# ---------------------------------------------------------------------------


def test_lateness_zero_for_ordered_stream(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_watermark_lateness_profile,
    )

    rows = [
        (i, _ts(1, 0, i), 1, "click", 1.0, "{}") for i in range(30)
    ]  # event_id order == ts order
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = events_watermark_lateness_profile(spark, sf).collect()[0]
    assert r["n_out_of_order"] == 0
    assert r["max_late_s"] == 0
    assert r["n_dropped_by_10min_watermark"] == 0


def test_lateness_detects_late_row(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_watermark_lateness_profile,
    )

    rows = [
        (0, _ts(1, 1, 0), 1, "click", 1.0, "{}"),
        (1, _ts(1, 0, 0), 1, "click", 1.0, "{}"),  # 1 h late vs running max
        (2, _ts(1, 2, 0), 1, "click", 1.0, "{}"),
    ]
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = events_watermark_lateness_profile(spark, sf).collect()[0]
    assert r["n_out_of_order"] == 1
    assert r["max_late_s"] == 3600
    assert r["n_dropped_by_10min_watermark"] == 1


# ---------------------------------------------------------------------------
# harmonic centrality on a hand-built path graph a—b—c
# ---------------------------------------------------------------------------


def test_harmonic_centrality_path_graph(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        graph_harmonic_centrality,
    )

    rows = []
    # parts 1-2 co-occur in orders 10,11,12; parts 2-3 in orders 20,21,22
    for ok in (10, 11, 12):
        rows += [(ok, 1), (ok, 2)]
    for ok in (20, 21, 22):
        rows += [(ok, 2), (ok, 3)]
    sf = _write(
        spark, tmp_path, "lineitem", rows, "l_orderkey long, l_partkey long"
    )
    got = {
        r["part"]: (r["n_reach3"], r["harmonic_x6"])
        for r in graph_harmonic_centrality(spark, sf).collect()
    }
    # center reaches both ends at d=1 (6+6); ends reach center at 1 and
    # far end at 2 (6+3)
    assert got == {1: (2, 9), 2: (2, 12), 3: (2, 9)}


# ---------------------------------------------------------------------------
# pHash near-dup: duplicate payloads are detected at hamming 0
# ---------------------------------------------------------------------------


def test_phash_detects_duplicate_payloads(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        multimodal_phash_near_dup,
    )

    rows = [
        (1, "the exact same payload bytes"),
        (2, "the exact same payload bytes"),   # dup of 1
        (3, "a completely different payload"),
        (4, "the exact same payload bytes"),   # dup of 1 and 2
    ]
    sf = _write(spark, tmp_path, "documents", rows,
                "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in multimodal_phash_near_dup(spark, sf).collect()
    }
    # the query plants a doc_id+1000000 copy of every doc_id<30 row
    # (de-vacuizing the sf0.01 gate fixture), so expected pairs are
    # every a<b combination within each identical-payload group
    from itertools import combinations

    group = [1, 2, 4, 1000001, 1000002, 1000004]
    want = {pair: 0 for pair in combinations(group, 2)}
    want[(3, 1000003)] = 0
    assert got == want


# ---------------------------------------------------------------------------
# k-means 3-iter: well-separated clusters converge (no moves by iter 3)
# ---------------------------------------------------------------------------


def test_kmeans_3iter_converges_on_separated_clusters(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        embedding_kmeans_3iter,
    )

    rows = []
    # 8 seed vectors (vec_id 0..7): two tight blobs around +10 and -10
    # in dim 0, plus 24 more members of each blob
    for i in range(40):
        base = 10.0 if i % 2 == 0 else -10.0
        jitter = (i % 5) * 0.01
        rows.append((i, [float(base + jitter), 1.0], int(i % 2)))
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = embedding_kmeans_3iter(spark, sf).collect()
    it3 = [r for r in out if r["iter"] == 3]
    assert it3, "iteration 3 missing"
    assert it3[0]["moved_total"] == 0  # converged: no reassignment
    assert sum(r["n_assigned"] for r in it3) == 40


# ---------------------------------------------------------------------------
# sequential pattern support on a constructed happens-before case
# ---------------------------------------------------------------------------


def test_sequential_pattern_happens_before(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_sequential_pattern_support,
    )

    rows = [
        # user 1: signup then purchase (pattern holds)
        (0, _ts(1, 0), 1, "signup", 1.0, "{}"),
        (1, _ts(1, 1), 1, "purchase", 1.0, "{}"),
        # user 2: purchase then signup (reverse only)
        (2, _ts(1, 0), 2, "purchase", 1.0, "{}"),
        (3, _ts(1, 1), 2, "signup", 1.0, "{}"),
    ]
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (r["antecedent"], r["consequent"]): r["support_users"]
        for r in events_sequential_pattern_support(spark, sf).collect()
    }
    assert got[("signup", "purchase")] == 1
    assert got[("purchase", "signup")] == 1  # user 2's ordering


# ---------------------------------------------------------------------------
# rounding battery: banker's vs half-up on exact .X5 boundaries
# ---------------------------------------------------------------------------


def test_rounding_modes_banker_boundaries(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        rounding_modes_battery,
    )

    # 100.25 and 100.35: half-up takes both up; half-even takes
    # .25→.2 (2 even) and .35→.4 (3 odd → up)
    rows = [(1, 100.25), (2, 100.35)]
    sf = _write(spark, tmp_path, "orders", rows,
                "o_orderkey long, o_totalprice double")
    got = {
        r["o_orderkey"]: (r["half_up_1"], r["half_even_1"])
        for r in rounding_modes_battery(spark, sf).collect()
    }
    assert got[1] == (100.3, 100.2)
    assert got[2] == (100.4, 100.4)


# ---------------------------------------------------------------------------
# largest-remainder allocation always sums to exactly 1000
# ---------------------------------------------------------------------------


def test_largest_remainder_sums_to_budget(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        allocation_largest_remainder,
    )

    # revenues deliberately NOT divisible: floor quotas undershoot
    nat = [(i, f"N{i}") for i in range(3)]
    cust = [(i, i % 3) for i in range(9)]
    orders = [(i, i % 9, 100.0 + (i % 7)) for i in range(33)]
    _write(spark, tmp_path, "nation", nat, "n_nationkey int, n_name string")
    _write(spark, tmp_path, "customer", cust,
           "c_custkey long, c_nationkey int")
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_custkey long, o_totalprice double")
    out = allocation_largest_remainder(spark, str(tmp_path)).collect()
    assert sum(r["seats"] for r in out) == 1000
    assert all(r["seats"] >= r["base_seats"] for r in out)


# ---------------------------------------------------------------------------
# interval coalescing merges overlaps and keeps disjoint windows apart
# ---------------------------------------------------------------------------


def test_intervals_coalesce_micro(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        intervals_coalesce_coverage,
    )

    rows = [
        # supplier 1: ships on day 1 and day 3 → windows [1,8) and
        # [3,10) overlap → ONE merged interval of 9 days
        (1, dt.datetime(2024, 1, 1)),
        (1, dt.datetime(2024, 1, 3)),
        # supplier 2: day 1 and day 20 → disjoint → two intervals,
        # 7 days each
        (2, dt.datetime(2024, 1, 1)),
        (2, dt.datetime(2024, 1, 20)),
    ]
    sf = _write(spark, tmp_path, "lineitem", rows,
                "l_suppkey long, l_shipdate timestamp")
    got = {
        r["l_suppkey"]: (r["n_merged_intervals"], r["covered_days"])
        for r in intervals_coalesce_coverage(spark, sf).collect()
    }
    assert got == {1: (1, 9), 2: (2, 14)}


# ---------------------------------------------------------------------------
# business days: a full Mon→Mon week has exactly 5
# ---------------------------------------------------------------------------


def test_business_days_full_week(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        orders_business_day_latency,
    )

    # 2024-01-01 is a Monday; ship the next Monday → 5 weekdays
    _write(spark, tmp_path, "orders", [(1, dt.datetime(2024, 1, 1))],
           "o_orderkey long, o_orderdate timestamp")
    _write(spark, tmp_path, "lineitem", [(1, dt.datetime(2024, 1, 8))],
           "l_orderkey long, l_shipdate timestamp")
    r = orders_business_day_latency(spark, str(tmp_path)).collect()[0]
    assert r["calendar_days"] == 7
    assert r["business_days"] == 5


# ---------------------------------------------------------------------------
# Haar wavelet: constant series has zero detail everywhere
# ---------------------------------------------------------------------------


def test_haar_constant_series_zero_detail(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_haar_wavelet_daily,
    )

    rows = [
        (d, dt.datetime(2024, 1, d), 1, "view", 1.0, "{}")
        for d in range(1, 29)
    ]  # constant 1/day over 28 days
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = events_haar_wavelet_daily(spark, sf).collect()
    assert all(r["detail"] == 0.0 for r in out)
    assert all(r["approx"] == 1.0 for r in out)


# ---------------------------------------------------------------------------
# alarm hysteresis: deadband holds the previous state
# ---------------------------------------------------------------------------


def test_alarm_hysteresis_deadband_holds(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round6_queries import (
        events_alarm_hysteresis,
    )

    rows = []
    eid = 0

    def hour_burst(hour, n):
        nonlocal eid
        for i in range(n):
            rows.append(
                (eid, dt.datetime(2024, 1, 1, hour, i % 60), 1,
                 "click", 1.0, "{}")
            )
            eid += 1

    hour_burst(0, 25)   # >= 20 → alarm ON
    hour_burst(1, 15)   # deadband (10 < 15 < 20) → still ON
    hour_burst(2, 5)    # <= 10 → OFF
    hour_burst(3, 15)   # deadband → still OFF
    sf = _write(
        spark, tmp_path, "events", rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    r = events_alarm_hysteresis(spark, sf).collect()[0]
    assert r["n_hours"] == 4
    assert r["alarm_hours"] == 2   # hours 0 and 1
    assert r["n_alarms_fired"] == 1
