"""Behavior analytics: funnel / retention / deciles semantics on planted
fixtures (oracle equivalence is gated in tier-1 by
tests/test_entry.py::test_query_runs_on_smoke_sf) plus invariants on the real smoke fixture."""

from __future__ import annotations

import datetime

from tests.conftest import SF_SMOKE


def _patched_events(monkeypatch, events):
    from osm_poi_database_maker_spark.queries import behavior as B

    monkeypatch.setattr(B, "load_table", lambda spark_, sf_, name_: events)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


_T0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _t(minutes: int) -> datetime.datetime:
    return _T0 + datetime.timedelta(minutes=minutes)


def test_funnel_strict_ordering(spark, monkeypatch):
    """A click BEFORE the first view never converts; stage anchors are
    first-touch (the earliest qualifying event per stage)."""
    from osm_poi_database_maker_spark.queries.behavior import q_events_funnel

    rows = [
        # user 1: view(10) -> click(20) -> purchase(30): full funnel
        (1, _t(10), 1, "view", 1.0),
        (2, _t(20), 1, "click", 1.0),
        (3, _t(30), 1, "purchase", 1.0),
        # user 2: click(5) precedes the only view(10); purchase(30) has
        # no qualifying click -> reaches stage 1 only
        (4, _t(5), 2, "click", 1.0),
        (5, _t(10), 2, "view", 1.0),
        (6, _t(30), 2, "purchase", 1.0),
        # user 3: view -> click, no purchase
        (7, _t(0), 3, "view", 1.0),
        (8, _t(1), 3, "click", 1.0),
        # user 4: purchase only — never enters the funnel
        (9, _t(0), 4, "purchase", 1.0),
    ]
    _patched_events(monkeypatch, _ev(spark, rows))
    got = {r.stage: r.n_users for r in q_events_funnel(spark, "x").collect()}
    assert got == {"1_view": 3, "2_click": 2, "3_purchase": 1}


def test_funnel_monotone_on_smoke(spark):
    from osm_poi_database_maker_spark.queries.behavior import q_events_funnel

    got = {r.stage: r.n_users for r in q_events_funnel(spark, SF_SMOKE).collect()}
    assert got["1_view"] >= got["2_click"] >= got["3_purchase"] > 0


def test_retention_cohorts(spark, monkeypatch):
    """Cohort day is each user's first active day; same-day re-activity
    counts once; offsets are day-granular."""
    from osm_poi_database_maker_spark.queries.behavior import q_events_retention

    rows = [
        # user 1: first active Jan 1 (twice — dedup to one), again Jan 3
        (1, _t(0), 1, "view", 1.0),
        (2, _t(60), 1, "click", 1.0),
        (3, _t(2 * 24 * 60), 1, "view", 1.0),
        # user 2: first active Jan 2
        (4, _t(24 * 60), 2, "view", 1.0),
    ]
    _patched_events(monkeypatch, _ev(spark, rows))
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in q_events_retention(spark, "x").collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-02", 0): 1,
    }


def test_retention_offset_zero_covers_all_users(spark):
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.behavior import q_events_retention

    df = q_events_retention(spark, SF_SMOKE)
    day0 = df.filter(F.col("day_offset") == 0).agg(F.sum("n_users")).collect()[0][0]
    n_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    assert day0 == n_users


def test_deciles_partition_users(spark):
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.behavior import q_events_user_deciles

    rows = q_events_user_deciles(spark, SF_SMOKE).collect()
    assert sorted(r.decile for r in rows) == list(range(1, 11))
    n_users = load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    # decile 1 holds the top spenders: its minimum dominates decile 2's max
    by_d = {r.decile: r for r in rows}
    assert by_d[1].min_value >= by_d[2].max_value


def test_hourly_anomaly_planted_spike(spark, monkeypatch):
    """A flat 10-events/hour series with one 100-event spike after the
    24h warm-up flags exactly that hour... unless the baseline is flat
    (sd == 0 rows are excluded) — so the planted series carries a gentle
    alternation to keep sd > 0."""
    from osm_poi_database_maker_spark.queries.behavior import q_events_hourly_anomaly

    rows = []
    eid = 0
    for h in range(30):
        # alternate 9/11 so the trailing stddev is never zero
        n = 100 if h == 27 else (9 if h % 2 == 0 else 11)
        for k in range(n):
            rows.append((eid, _t(h * 60 + (k % 60)), 1, "view", 1.0))
            eid += 1
    _patched_events(monkeypatch, _ev(spark, rows))
    got = q_events_hourly_anomaly(spark, "x").collect()
    assert [r.hour for r in got] == ["2024-01-02 03:00:00"]
    assert got[0].n == 100 and got[0].z > 2


def test_running_totals_monotone(spark):
    from osm_poi_database_maker_spark.queries.behavior import q_events_running_totals

    rows = q_events_running_totals(spark, SF_SMOKE).collect()
    by_type: dict = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        prev = by_type.get(r.event_type)
        if prev is not None:
            assert r.cum_events >= prev.cum_events
            assert r.cum_value >= prev.cum_value - 1e-9
        by_type[r.event_type] = r
    # the last day of each type reaches 100% of its total
    assert all(abs(v.frac_of_total - 1.0) < 1e-9 for v in by_type.values())


def test_deciles_rfm_plans_have_no_window(spark):
    """The round-3 verdict's one remaining scale-killer was a global-sort
    ntile Window (all per-user rows in ONE task) in the decile/RFM
    scorers. The percentile-threshold rewrite must keep their physical
    plans Window-free: boundaries come from a distributed 1-row
    aggregate, assignment from a broadcast join + array expression."""
    from osm_poi_database_maker_spark.queries.behavior import (
        q_events_rfm_segments,
        q_events_user_deciles,
    )

    for q in (q_events_user_deciles, q_events_rfm_segments):
        plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, q.__name__


def test_rfm_segments_cover_all_purchasers(spark):
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.io import load_table
    from osm_poi_database_maker_spark.queries.behavior import q_events_rfm_segments

    rows = q_events_rfm_segments(spark, SF_SMOKE).collect()
    n_purchasers = (
        load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_purchasers
    assert all(1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4 for r in rows)


def test_markov_rows_normalize(spark):
    from osm_poi_database_maker_spark.queries.behavior import q_events_markov_transitions

    rows = q_events_markov_transitions(spark, SF_SMOKE).collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r.p)
        assert r.n > 0 and 0 < r.p <= 1
    for ps in by_from.values():
        assert abs(sum(ps) - 1.0) < 0.01  # rounded to 4 decimals per cell


def test_path_trigrams_counts(spark):
    """Total trigram mass equals sum over users of max(0, n_events-2),
    when the trigram space is small enough that the top-K window holds
    everything (5 event types -> 125 <= fixture mass spread)."""
    from osm_poi_database_maker_spark.queries.behavior import (
        _PATH_TOP_K,
        q_events_path_trigrams,
    )

    rows = q_events_path_trigrams(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= _PATH_TOP_K
    # ranks are dense and ordered by (n desc, lexicographic steps) —
    # asserted on a re-sort, since collect() order is a plan detail
    ordered = sorted(rows, key=lambda r: (-r.n, r.step1, r.step2, r.step3))
    assert [r.rk for r in ordered] == list(range(1, len(rows) + 1))


def test_user_lifecycle_planted(spark, monkeypatch):
    """new/retained/resurrected classification on a hand-built timeline:
    gap <= 7 days retains, > 7 resurrects, first day is new, and repeat
    events within one day count the user once."""
    import datetime

    from osm_poi_database_maker_spark.queries import behavior as B

    def ts(day, hour=9):
        return datetime.datetime(2024, 1, day, hour)

    rows = [
        # user 1: days 1, 3 (retained), 20 (resurrected)
        (1, ts(1), 1, "view", 1.0, "{}"),
        (2, ts(1, 12), 1, "view", 1.0, "{}"),   # same-day repeat
        (3, ts(3), 1, "view", 1.0, "{}"),
        (4, ts(20), 1, "view", 1.0, "{}"),
        # user 2: day 3 only (new)
        (5, ts(3), 2, "view", 1.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s, sf, n: e)
    got = {r.day: r for r in B.q_events_user_lifecycle(spark, "x").collect()}
    assert (got["2024-01-01"].n_new, got["2024-01-01"].n_active) == (1, 1)
    d3 = got["2024-01-03"]
    assert (d3.n_new, d3.n_retained, d3.n_resurrected, d3.n_active) == (1, 1, 0, 2)
    d20 = got["2024-01-20"]
    assert (d20.n_new, d20.n_retained, d20.n_resurrected) == (0, 0, 1)


def test_dau_wau_planted(spark, monkeypatch):
    """WAU at day D counts distinct users active in [D-6, D]; DAU/WAU
    stickiness is exact; same-day repeats count once."""
    import datetime

    from osm_poi_database_maker_spark.queries import behavior as B

    def ts(day):
        return datetime.datetime(2024, 1, day, 9)

    rows = [
        (1, ts(1), 1, "view", 1.0, "{}"),
        (2, ts(1), 2, "view", 1.0, "{}"),
        (3, ts(5), 1, "view", 1.0, "{}"),   # user 1 again within 7d
        (4, ts(5), 1, "view", 2.0, "{}"),   # same-day repeat
        (5, ts(20), 3, "view", 1.0, "{}"),  # isolated late day
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s, sf, n: e)
    got = {r.day: r for r in B.q_events_dau_wau(spark, "x").collect()}
    assert set(got) == {"2024-01-01", "2024-01-05", "2024-01-20"}
    assert (got["2024-01-01"].dau, got["2024-01-01"].wau) == (2, 2)
    # day 5 window [Dec 30..Jan 5]: users {1, 2}; dau = {1}
    assert (got["2024-01-05"].dau, got["2024-01-05"].wau) == (1, 2)
    assert got["2024-01-05"].stickiness == 0.5
    assert (got["2024-01-20"].dau, got["2024-01-20"].wau) == (1, 1)


def test_linear_attribution_planted(spark, monkeypatch):
    """Credit splits equally across in-window touches; out-of-window and
    post-purchase touches get nothing; touchless purchases drop out."""
    import datetime

    from osm_poi_database_maker_spark.queries import behavior as B

    def ts(day, hour=9):
        return datetime.datetime(2024, 1, day, hour)

    rows = [
        # user 1: view(d1) + click(d2) then purchase(d3, 90.0)
        (1, ts(1), 1, "view", 1.0, "{}"),
        (2, ts(2), 1, "click", 1.0, "{}"),
        (3, ts(3), 1, "purchase", 90.0, "{}"),
        # after-purchase touch: no credit
        (4, ts(4), 1, "view", 1.0, "{}"),
        # user 2: touch 10 days before purchase -> out of 7d window
        (5, ts(1), 2, "view", 1.0, "{}"),
        (6, ts(11), 2, "purchase", 50.0, "{}"),
        # user 3: purchase with no touches at all
        (7, ts(5), 3, "purchase", 70.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s, sf, n: e)
    got = {r.touch_type: r for r in B.q_events_linear_attribution(spark, "x").collect()}
    assert set(got) == {"view", "click"}
    assert got["view"].total_credit == 45.0
    assert got["click"].total_credit == 45.0
    assert (got["view"].n_touches, got["view"].n_purchases) == (1, 1)


def test_cohort_ltv_planted(spark, monkeypatch):
    """LTV accumulates per cohort week; divides by cohort size (all
    cohort users, not just purchasers); week binning is floor(days/7)."""
    import datetime

    from osm_poi_database_maker_spark.queries import behavior as B

    def ts(day):
        return datetime.datetime(2024, 1, day, 9)

    rows = [
        # cohort 2024-01-01: users 1 (buys) and 2 (never buys)
        (1, ts(1), 1, "view", 1.0, "{}"),
        (2, ts(1), 2, "view", 1.0, "{}"),
        (3, ts(3), 1, "purchase", 10.0, "{}"),   # day 2 -> week 0
        (4, ts(9), 1, "purchase", 30.0, "{}"),   # day 8 -> week 1
        # cohort 2024-01-02: user 3
        (5, ts(2), 3, "purchase", 100.0, "{}"),  # week 0 (self-cohorting)
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s, sf, n: e)
    got = {(r.cohort_day, r.week_since): r for r in B.q_events_cohort_ltv(spark, "x").collect()}
    a0 = got[("2024-01-01", 0)]
    a1 = got[("2024-01-01", 1)]
    assert (a0.n_users, a0.ltv_per_user) == (2, 5.0)     # 10 / 2 users
    assert a1.ltv_per_user == 20.0                       # (10+30) / 2
    assert got[("2024-01-02", 0)].ltv_per_user == 100.0


def test_time_to_convert_planted(spark, monkeypatch):
    """Latency measures first view -> first SUBSEQUENT purchase;
    pre-view purchases don't count as conversion; never-viewers are
    excluded from the denominator."""
    import datetime

    from osm_poi_database_maker_spark.queries import behavior as B

    def ts(day, hour=0):
        return datetime.datetime(2024, 1, day, hour)

    rows = [
        # user 1: view d1 00:00 -> purchase d1 06:00 (6h) and a later one
        (1, ts(1, 0), 1, "view", 1.0, "{}"),
        (2, ts(1, 6), 1, "purchase", 9.0, "{}"),
        (3, ts(3, 0), 1, "purchase", 9.0, "{}"),
        # user 2: purchase BEFORE any view -> not converted
        (4, ts(1, 0), 2, "purchase", 5.0, "{}"),
        (5, ts(2, 0), 2, "view", 1.0, "{}"),
        # user 3: views, never buys
        (6, ts(1, 0), 3, "view", 1.0, "{}"),
        # user 4: buys without ever viewing -> not a viewer at all
        (7, ts(1, 0), 4, "purchase", 5.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s, sf, n: e)
    r = B.q_events_time_to_convert(spark, "x").collect()[0]
    assert (r.n_viewers, r.n_converted) == (3, 1)
    assert r.cvr == round(1 / 3, 4)
    assert r.q25_hours == r.q50_hours == r.q75_hours == 6.0


def test_multi_exists_semi_anti_semantics(spark, monkeypatch):
    """Q21-shape drill: an error counts iff the SAME user clicked the
    SAME day (EXISTS) and did not purchase that day (NOT EXISTS)."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    d1 = dt.datetime(2024, 1, 1, 10, 0)
    d2 = dt.datetime(2024, 1, 2, 10, 0)
    rows = [
        # user 1, day 1: two errors + click, no purchase -> both count
        (0, d1, 1, "error", 0.0, "{}"),
        (1, d1, 1, "error", 0.0, "{}"),
        (2, d1, 1, "click", 0.0, "{}"),
        # user 1, day 2: error + click BUT purchased -> excluded (anti)
        (3, d2, 1, "error", 0.0, "{}"),
        (4, d2, 1, "click", 0.0, "{}"),
        (5, d2, 1, "purchase", 1.0, "{}"),
        # user 2: error without a click that day -> excluded (semi)
        (6, d1, 2, "error", 0.0, "{}"),
        # user 3: click on day 1, error on day 2 -> day mismatch, excluded
        (7, d1, 3, "click", 0.0, "{}"),
        (8, d2, 3, "error", 0.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s, sf, n: e)
    out = {r.user_id: r.n_stranded_errors for r in E.q_events_multi_exists(spark, "x").collect()}
    assert out == {1: 2}


def test_kmv_distinct_estimator_accuracy(spark, monkeypatch):
    """Small types (< K distinct users) fall back to the exact count;
    a planted 500-user type exercises the (K-1)*M/h_K estimator branch
    and must land within 30% of the truth."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E
    from tests.conftest import SF_SMOKE

    smoke = E.q_events_kmv_distinct(spark, SF_SMOKE).collect()
    assert smoke and all(r.rel_err <= 0.3 for r in smoke), smoke
    for r in smoke:  # < K distinct at smoke SF -> exact fallback
        if r.exact_distinct < E._KMV_K:
            assert r.kmv_estimate == float(r.exact_distinct)

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1000 + i, "view", 1.0, "{}") for i in range(500)]
    rows += [(900 + i, t0, 5000 + i, "click", 1.0, "{}") for i in range(10)]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    got = {r.event_type: r for r in E.q_events_kmv_distinct(spark, "x").collect()}
    assert got["click"].kmv_estimate == 10.0  # fallback branch
    big = got["view"]
    assert big.kmv_estimate != 500.0  # estimator branch actually fired
    assert big.rel_err <= 0.3, big


def test_ushape_attribution_credit_split(spark, monkeypatch):
    """Hand-computed U-shape: 1 touch -> 100%, 2 -> 50/50, 4 -> 40% to
    first and last, 10% to each of the two middles; per-purchase credit
    is conserved."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import behavior as B

    t0 = dt.datetime(2024, 1, 1)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: 4 touches then a 10.0 purchase -> view(first) 4.0,
        # click/error middles 1.0 each, view(last) 4.0
        (0, m(0), 1, "view", 0.0, "{}"),
        (1, m(1), 1, "click", 0.0, "{}"),
        (2, m(2), 1, "error", 0.0, "{}"),
        (3, m(3), 1, "view", 0.0, "{}"),
        (4, m(4), 1, "purchase", 10.0, "{}"),
        # user 2: single click then a 6.0 purchase -> click gets 6.0
        (5, m(0), 2, "click", 0.0, "{}"),
        (6, m(1), 2, "purchase", 6.0, "{}"),
        # user 3: two views then a 8.0 purchase -> 4.0 each
        (7, m(0), 3, "view", 0.0, "{}"),
        (8, m(1), 3, "view", 0.0, "{}"),
        (9, m(2), 3, "purchase", 8.0, "{}"),
        # user 4: purchase with no prior touch -> drops out entirely
        (10, m(0), 4, "purchase", 99.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s_, sf_, n_: e)
    got = {r.touch_type: r for r in B.q_events_ushape_attribution(spark, "x").collect()}
    assert got["view"].total_credit == 4.0 + 4.0 + 4.0 + 4.0  # u1 first+last, u3 both
    assert got["click"].total_credit == 1.0 + 6.0  # u1 middle + u2 solo
    assert got["error"].total_credit == 1.0  # u1 middle
    total = sum(r.total_credit for r in got.values())
    assert total == 10.0 + 6.0 + 8.0  # conserved; no-touch purchase excluded
    assert got["view"].n_first == 2 and got["view"].n_last == 2


def test_cms_counts_guarantee_and_planted_collision(spark, monkeypatch):
    """CMS invariants: estimate >= exact on every probe (one-sided
    error); with fewer users than any counter row can saturate, planted
    heavy hitters read back EXACTLY (no all-rows collision among a
    handful of keys); totals are conserved per sketch row."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E
    from tests.conftest import SF_SMOKE

    smoke = E.q_events_cms_counts(spark, SF_SMOKE).collect()
    assert smoke
    assert all(r.cms_estimate >= r.exact_count for r in smoke)
    assert all(r.overcount == r.cms_estimate - r.exact_count for r in smoke)

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, i % 3, "view", 1.0, "{}") for i in range(600)]  # 3 heavy users
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    got = {r.user_id: r for r in E.q_events_cms_counts(spark, "x").collect()}
    assert set(got) == {0, 1, 2}
    for u in got:
        assert got[u].exact_count == 200
        assert got[u].cms_estimate == 200  # 3 keys cannot collide in all 4 rows
        assert got[u].overcount == 0


def test_gapfill_locf_densifies_and_carries(spark, monkeypatch):
    """Silent days appear with n_events=0 and carry the last observed
    day-close value; the day's close is the value of the MAX event_id
    (the ingestion sequence), not an arbitrary tie-break; the spine is
    bounded per user (no global calendar: user 2 has no Jan-1 row)."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    def t(day, h=12):
        return dt.datetime(2024, 1, day, h, 0)

    rows = [
        # user 1: Jan 1 (two events, close = event_id 2's value), gap on
        # Jan 2-3, Jan 4 again
        (1, t(1, 9), 1, "view", 10.0, "{}"),
        (2, t(1, 10), 1, "view", 20.0, "{}"),
        (9, t(4), 1, "view", 40.0, "{}"),
        # user 2: single day, Jan 3 only
        (5, t(3), 2, "view", 7.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = {(r.user_id, r.day): r for r in E.q_events_gapfill_locf(spark, "x").collect()}
    assert set(out) == {
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"), (1, "2024-01-04"),
        (2, "2024-01-03"),
    }
    assert out[(1, "2024-01-01")].n_events == 2
    assert out[(1, "2024-01-01")].locf_value == 20.0  # max event_id of the day
    assert out[(1, "2024-01-02")].n_events == 0
    assert out[(1, "2024-01-02")].locf_value == 20.0  # carried across the gap
    assert out[(1, "2024-01-03")].locf_value == 20.0
    assert out[(1, "2024-01-04")].locf_value == 40.0
    assert out[(2, "2024-01-03")].n_events == 1


def test_customer_order_distribution_counts_filtered_zero(spark, monkeypatch):
    """Q13 semantics: the priority filter lives in the JOIN condition —
    a customer whose only orders are urgent lands in the 0 bucket, and
    order-less customers are counted too."""
    from osm_poi_database_maker_spark.queries import core as C

    cust = spark.createDataFrame(
        [(1, "a", 0, 0.0, "m"), (2, "b", 0, 0.0, "m"), (3, "c", 0, 0.0, "m")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [
            (10, 1, "O", 1.0, "2024-01-01", "1-URGENT"),   # filtered out
            (11, 2, "O", 1.0, "2024-01-01", "2-HIGH"),
            (12, 2, "O", 1.0, "2024-01-02", "5-LOW"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    )
    frames = {"customer": cust, "orders": orders}
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: frames[n_])
    got = {r.c_count: r.custdist for r in C.q_customer_order_distribution(spark, "x").collect()}
    assert got == {0: 2, 2: 1}  # cust 1 (urgent-only) and 3 (no orders) in bucket 0


def test_time_weighted_avg_holds_value_until_next_event(spark, monkeypatch):
    """TWA semantics: each observation's value is held (weighted) for the
    seconds until the user's NEXT event; the final observation carries no
    weight; a once-a-second and once-an-hour reporter average the same."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def t(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # user 1: X@10 held 100 s, X@30 held 200 s, Y@7 is last (dropped)
        (1, t(0), 1, "X", 10.0, "{}"),
        (2, t(100), 1, "X", 30.0, "{}"),
        (3, t(300), 1, "Y", 7.0, "{}"),
        # user 2: single event -> no interval at all
        (4, t(0), 2, "X", 99.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = {r.event_type: r for r in E.q_events_time_weighted_avg(spark, "x").collect()}
    assert set(out) == {"X"}  # Y only ever appears as a terminal observation
    assert out["X"].n_intervals == 2
    assert out["X"].held_seconds == 300
    # (10*100 + 30*200) / 300 = 23.333333, NOT the sample mean 20.0
    assert out["X"].time_weighted_avg == 23.333333


def test_part_skyline_dominance_and_duplicates(spark, monkeypatch):
    """2-D skyline: strictly-dominated points drop (same size but cheaper
    exists; same price but bigger exists), duplicate (price,size) points
    all survive, and the frontier spans multiple price buckets (the
    distributed prefix-max path, not just the within-bucket window)."""
    from osm_poi_database_maker_spark.queries import core as C

    rows = [
        (1, "a", "B", "T", 3, 900.0),    # frontier (cheapest)
        (2, "h", "B", "T", 4, 940.0),    # frontier duplicate pair...
        (3, "h2", "B", "T", 4, 940.0),   # ...both kept
        (4, "b", "B", "T", 5, 950.0),    # frontier
        (5, "c", "B", "T", 5, 1000.0),   # dominated by 4 (cheaper, same size)
        (6, "d", "B", "T", 6, 1000.0),   # frontier
        (7, "e", "B", "T", 6, 1100.0),   # dominated by 6
        (8, "f", "B", "T", 7, 1100.0),   # frontier (biggest)
    ]
    p = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: p)
    got = sorted(r.p_partkey for r in C.q_part_skyline(spark, "x").collect())
    assert got == [1, 2, 3, 4, 6, 8]


def test_frequent_itemsets_levels(spark, monkeypatch):
    """Apriori lattice: per-level min-support {3,3,2} over capped sorted
    baskets; combos are generated in ascending item order so the itemset
    string is canonical; duplicate lineitems of the same part count once."""
    from osm_poi_database_maker_spark.queries import core as C

    baskets = {1: [1, 2, 3], 2: [1, 2, 3], 3: [1, 2], 4: [1, 2, 4]}
    rows = [
        (o, p, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-01")
        for o, items in baskets.items()
        for i, p in enumerate(items)
    ]
    # duplicate (order 1, part 2) lineitem: must not double-count
    rows.append((1, 2, 9, 99, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-01-01"))
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    )
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: li)
    got = {
        (r.level, r.itemset): r.support
        for r in C.q_basket_frequent_itemsets(spark, "x").collect()
    }
    assert got == {
        (1, "1"): 4, (1, "2"): 4,
        (2, "1|2"): 4,
        (3, "1|2|3"): 2,
    }


def test_m4_downsample_roles_and_singleton_bucket(spark, monkeypatch):
    """M4: per (series, hour) the first/last/min/max points survive; a
    single-event bucket emits its one point under all four roles; ties on
    value break deterministically by event_id (ascending for both min and
    max, matching the oracle's ORDER BY value DESC, event_id ASC)."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def t(sec):
        return t0 + dt.timedelta(seconds=sec)

    rows = [
        # series X, one bucket: first=e1, last=e4, min=e3, max tie 30.0
        # between e2 and e4 -> e2 (lower event_id) wins
        (1, t(0), 1, "X", 10.0, "{}"),
        (2, t(10), 1, "X", 30.0, "{}"),
        (3, t(20), 1, "X", -5.0, "{}"),
        (4, t(30), 1, "X", 30.0, "{}"),
        # series Y: singleton bucket -> same point, all four roles
        (5, t(0), 2, "Y", 7.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = E.q_events_m4_downsample(spark, "x").collect()
    x = {r.role: r for r in out if r.event_type == "X"}
    y = [r for r in out if r.event_type == "Y"]
    assert set(x) == {"first", "last", "min", "max"}
    us = lambda sec: int(t(sec).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert x["first"].value == 10.0 and x["first"].ts_us == us(0)
    assert x["last"].value == 30.0 and x["last"].ts_us == us(30)
    assert x["min"].value == -5.0
    assert x["max"].ts_us == us(10)  # tie broken toward event_id 2
    assert len(y) == 4 and {r.value for r in y} == {7.0}


def test_lead_lag_corr_detects_shifted_series(spark, monkeypatch):
    """A follower series that exactly copies the driver one hour later
    must correlate 1.0 at lag 1 (and the self-pair at lag 0 is trivially
    1.0); silent hours must be zero-filled — without densification the
    anti-phase series would never share an active hour with the driver
    and the strong NEGATIVE correlation would be invisible."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # driver A: bursts of k events at hours 0,2,4,...,18 (k alternates
    # 1/3 so the series has variance); follower B copies at hour+1
    for i, h in enumerate(range(0, 20, 2)):
        k = 1 if i % 2 == 0 else 3
        for _ in range(k):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "A", 1.0, "{}"))
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h + 1), 1, "B", 1.0, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = {
        (r.type_a, r.type_b, r.lag_hours): r.xcorr
        for r in E.q_events_lead_lag_corr(spark, "x").collect()
    }
    assert out[("A", "A", 0)] == 1.0
    assert out[("A", "B", 1)] == 1.0  # B follows A by exactly one hour
    # at lag 0, A's bursts land on B's silent hours: strong negative
    assert out[("A", "B", 0)] < 0


def test_cusum_identity_matches_sequential_fold(spark, monkeypatch):
    """The windowed prefix-sum/prefix-min identity must reproduce the
    sequential CUSUM fold s_t = max(0, s_{t-1} + d_t) exactly: a level
    shift mid-series trips the 'up' detector at (and after) the point
    where the sequential statistic first clears 4*sd, and the max(0,.)
    reset means pre-shift hours never fire."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # 30 hours at 1 event/h, then 10 hours at 6 events/h: a level shift
    series = [1] * 30 + [6] * 10
    rows, eid = [], 0
    for h, k in enumerate(series):
        for _ in range(k):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "A", 1.0, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    got = {
        (r.bucket_start_s // 3600 - rows[0][1].replace(tzinfo=dt.timezone.utc).timestamp() // 3600, r.direction): r.cusum_stat
        for r in E.q_events_cusum_changepoints(spark, "x").collect()
    }
    # sequential reference fold
    n_h = len(series)
    mu = sum(series) / n_h
    var = (sum(x * x for x in series) - n_h * mu * mu) / (n_h - 1)
    sd = var ** 0.5
    k_, h_ = 0.5 * sd, 4.0 * sd
    s, expect = 0.0, {}
    for t, x in enumerate(series):
        s = max(0.0, s + (x - mu - k_))
        if s > h_:
            expect[(float(t), "up")] = round(s, 4)
    assert expect  # the shift must actually fire
    up_got = {kk: v for kk, v in got.items() if kk[1] == "up"}
    assert up_got == expect


def test_ab_test_z_and_degenerate_variance(spark, monkeypatch):
    """Hand-checkable arms: the z statistic matches the textbook pooled
    formula; a universe where EVERY user converts has zero pooled
    variance and must yield NULL z with significant=False, not a
    divide-by-zero."""
    import datetime as dt
    import math

    from osm_poi_database_maker_spark.queries import events  # noqa: F401
    from osm_poi_database_maker_spark.queries import behavior as B

    t = dt.datetime(2024, 1, 1)

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    # users 0..19; conversion = user has a purchase event
    M, A = 2_147_483_647, 48_271
    arm_a = {u for u in range(20) if (u % M * A % M * A % M) % 2 == 0}
    rows = []
    eid = 0
    for u in range(20):
        eid += 1
        rows.append((eid, t, u, "view", 1.0, "{}"))
        # convert ~half of each arm differently: A converts evens, B odds<5
        if (u in arm_a and u % 4 == 0) or (u not in arm_a and u in (1, 3)):
            eid += 1
            rows.append((eid, t, u, "purchase", 1.0, "{}"))
    monkeypatch.setattr(B, "load_table", lambda s_, sf_, n_: mk(rows))
    r = B.q_events_ab_test(spark, "x").collect()[0]
    assert r.n_a == len(arm_a) and r.n_b == 20 - len(arm_a)
    p_a, p_b = r.conv_a / r.n_a, r.conv_b / r.n_b
    pp = (r.conv_a + r.conv_b) / 20
    z = (p_a - p_b) / math.sqrt(pp * (1 - pp) * (1 / r.n_a + 1 / r.n_b))
    assert r.z_stat == round(z, 4)
    # degenerate: everyone converts
    rows2 = []
    for u in range(6):
        rows2.append((100 + u, t, u, "purchase", 1.0, "{}"))
    monkeypatch.setattr(B, "load_table", lambda s_, sf_, n_: mk(rows2))
    r2 = B.q_events_ab_test(spark, "x").collect()[0]
    assert r2.z_stat is None and r2.significant is False


def test_stl_components_reassemble_and_catch_seasonality(spark, monkeypatch):
    """n == trend + seasonal + resid (within display rounding) on every
    row; on a pure 24h-periodic signal the seasonal component absorbs
    the rhythm (residuals ~0) and edge hours without the full 25h
    window are excluded."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows, eid = [], 0
    n_hours = 24 * 5
    for h in range(n_hours):
        k = 5 if h % 24 == 12 else 1  # daily noon spike, else baseline
        for _ in range(k):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, "A", 1.0, "{}"))
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = E.q_events_stl_decompose(spark, "x").collect()
    assert len(out) == n_hours - 24  # 12 edge hours trimmed each side
    for r in out:
        assert abs(r.n - (r.trend + r.seasonal + r.resid)) < 2e-4
        assert abs(r.resid) < 0.2  # periodic signal: seasonal absorbs it
    spikes = [r for r in out if (r.bucket_start_s // 3600) % 24 == 12]
    assert spikes and all(r.seasonal > 3 for r in spikes)


def test_revenue_trend_exact_line_and_gap_month(spark, monkeypatch):
    """A perfectly linear monthly series fits slope exactly with R²=1
    and forecasts the next point; a nation with a SILENT middle month
    must see it as a zero row (the trend flattens), not a skipped x."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import core as C

    nation = spark.createDataFrame(
        [(0, "LINEAR", 0, ""), (1, "GAPPY", 0, "")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    )
    cust = spark.createDataFrame(
        [(1, 0), (2, 1)], "c_custkey long, c_nationkey long"
    )
    orders = []
    oid = 0
    # nation 0: revenue 100,200,300,400 USD in 1992-01..04 (one order each)
    for m, usd in enumerate((100.0, 200.0, 300.0, 400.0)):
        oid += 1
        orders.append((oid, 1, "O", usd, f"1992-{m+1:02d}-15", "1-URGENT"))
    # nation 1: 100 USD in months 0 and 2, NOTHING in month 1
    for m in (0, 2):
        oid += 1
        orders.append((oid, 2, "O", 100.0, f"1992-{m+1:02d}-15", "1-URGENT"))
    o = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    frames = {"orders": o, "customer": cust, "nation": nation}
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: frames[n_])
    out = {r.n_name: r for r in C.q_nation_revenue_trend(spark, "x").collect()}
    lin = out["LINEAR"]
    assert lin.n_months == 4
    assert lin.slope_usd_per_month == 100.0
    assert lin.forecast_usd == 500.0
    assert lin.r2 == 1.0
    gap = out["GAPPY"]
    assert gap.n_months == 3  # the silent month is a real zero row
    assert gap.slope_usd_per_month == 0.0  # 100,0,100 is flat in OLS


def test_revenue_concentration_gini_extremes(spark, monkeypatch):
    """Gini sanity against hand values: a nation where one customer
    holds ALL revenue approaches G = (n-1)/n with top-decile share 1.0;
    a perfectly equal nation scores G = 0 with the top decile holding
    exactly its population share."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import core as C

    nation = spark.createDataFrame(
        [(0, "WHALE", 0, ""), (1, "EQUAL", 0, "")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    )
    cust_rows = [(i, 0) for i in range(1, 11)] + [(100 + i, 1) for i in range(1, 11)]
    cust = spark.createDataFrame(cust_rows, "c_custkey long, c_nationkey long")
    orders = []
    oid = 0
    for i in range(1, 11):  # WHALE: customer 1 gets 1000, rest 0.01 each
        oid += 1
        orders.append((oid, i, "O", 1000.0 if i == 1 else 0.01, "1995-01-01", "x"))
    for i in range(1, 11):  # EQUAL: everyone 50
        oid += 1
        orders.append((oid, 100 + i, "O", 50.0, "1995-01-01", "x"))
    o = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    frames = {"orders": o, "customer": cust, "nation": nation}
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: frames[n_])
    out = {r.n_name: r for r in C.q_nation_revenue_concentration(spark, "x").collect()}
    eq = out["EQUAL"]
    assert eq.gini == 0.0
    assert eq.top_decile_share == 0.1  # ceil(10/10)=1 customer of 10 equals
    wh = out["WHALE"]
    assert wh.top_decile_share > 0.999
    assert 0.88 < wh.gini <= 0.9  # (n-1)/n = 0.9 minus the 9 pennies


def test_sequence_patterns_allow_gaps_and_dedupe_per_user(spark, monkeypatch):
    """Non-contiguous semantics: A>C must be supported by a user whose
    literal path is A,B,C (gap over B); a user repeating A,B,A,B counts
    each pattern ONCE (set semantics); the 8-event cap drops anything
    after the first 8."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import behavior as B

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def emit(u, types):
        nonlocal eid
        for i, et in enumerate(types):
            eid += 1
            rows.append((eid, t0 + dt.timedelta(minutes=i), u, et, 1.0, "{}"))

    for u in range(5):  # 5 users A,B,C -> meets minsup exactly
        emit(u, ["A", "B", "C"])
    emit(10, ["A", "B", "A", "B"])  # repeats: one vote per pattern
    emit(11, list("DDDDDDDD") + ["E"])  # E is event #9 -> capped away
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(B, "load_table", lambda s_, sf_, n_: e)
    out = {
        (r.level, r.pattern): r.support
        for r in B.q_events_sequence_patterns(spark, "x").collect()
    }
    assert out[(2, "A>C")] == 5          # gap over B
    assert out[(2, "A>B")] == 6          # 5 + user 10 exactly once
    assert out[(3, "A>B>C")] == 5
    assert (1, "E") not in out           # capped
    assert (1, "D") not in out           # support 1 < minsup


def test_pit_enrich_no_future_leakage_and_same_day_ties(spark, monkeypatch):
    """Feature-store correctness: an event BEFORE any order keeps NULLs;
    an event between versions sees only the prior one; two same-day
    versions resolve to the higher orderkey; an order dated ON the
    event's own day IS visible (inclusive as-of, orders carry midnight
    timestamps)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import events as E

    o = spark.createDataFrame(
        [
            (10, 1, "O", 100.0, "2024-01-10", "x"),
            (11, 1, "O", 200.0, "2024-01-20", "x"),
            (12, 1, "O", 300.0, "2024-01-20", "x"),  # same-day v2: wins by key
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 5, 12), 1, "view", 1.0, "{}"),   # pre-history
            (2, dt.datetime(2024, 1, 15, 12), 1, "view", 1.0, "{}"),  # after v10
            (3, dt.datetime(2024, 1, 20, 0, 0, 1), 1, "view", 1.0, "{}"),  # same day
            (4, dt.datetime(2024, 2, 1, 0), 1, "view", 1.0, "{}"),    # after all
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    frames = {"events": ev, "orders": o}
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: frames[n_])
    out = {r.event_id: r for r in E.q_events_pit_enrich(spark, "x").collect()}
    assert out[1].asof_orderkey is None and out[1].asof_totalprice is None
    assert out[2].asof_orderkey == 10
    assert out[3].asof_orderkey == 12 and out[3].asof_totalprice == 300.0
    assert out[4].asof_orderkey == 12


def test_repeat_ladder_cumulative_and_gap_rungs(spark, monkeypatch):
    """Hand-checked ladder: counts {1:2, 2:1, 4:1} customers give
    n_ge = [4,2,1,1] over the dense 1..4 spine (rung 3, which nobody
    occupies exactly, still appears with pass-through rate 1.0), and
    repeat_rate is the next rung's survivors over this rung's."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import core as C

    orders = []
    oid = 0
    for cust, k in ((1, 1), (2, 1), (3, 2), (4, 4)):
        for _ in range(k):
            oid += 1
            orders.append((oid, cust, "O", 10.0, "1995-01-01", "x"))
    o = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_date("o_orderdate"))
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: o)
    rows = {r.k: r for r in C.q_customer_repeat_ladder(spark, "x").collect()}
    assert [rows[k].n_ge for k in (1, 2, 3, 4)] == [4, 2, 1, 1]
    assert rows[1].repeat_rate == 0.5
    assert rows[3].repeat_rate == 1.0  # empty rung passes through
    assert rows[4].repeat_rate is None


def test_rolling_range_frame_boundaries_and_tie_peers(spark, monkeypatch):
    """RANGE semantics: an event exactly 24h earlier falls OUT of the
    frame (strictly-greater-than t-24h), one at 23:59:59.999999 stays
    in, and two events at the SAME microsecond are peers — each sees
    the other regardless of row order."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    t0 = dt.datetime(2024, 1, 2, 0, 0, 0)
    rows = [
        (1, t0 - dt.timedelta(hours=24), 1, "view", 10.0, "{}"),          # out
        (2, t0 - dt.timedelta(hours=24, microseconds=-1), 1, "view", 5.0, "{}"),  # in
        (3, t0, 1, "view", 1.0, "{}"),
        (4, t0, 1, "view", 2.0, "{}"),   # same-instant peer of 3
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    out = {r.event_id: r for r in E.q_events_rolling_range_window(spark, "x").collect()}
    # at t0: events 2,3,4 in frame (1 is exactly 24h old -> excluded)
    assert out[3].n_24h == 3 and out[4].n_24h == 3
    assert out[3].value_24h == out[4].value_24h == 8.0  # peers see each other
    # event 2's frame reaches back 24h-1us: event 1 sits 24h-1us before
    # it, i.e. exactly on the inclusive edge -> in
    assert out[2].n_24h == 2


def test_incremental_rollup_merge_equals_recompute(spark, monkeypatch):
    """The merge path must reproduce the direct recompute exactly
    (ivm_match True) with min/max straddling the history/delta cutoff,
    and delta_events counts only the last-7-days rows."""
    import datetime as dt

    from osm_poi_database_maker_spark.queries import events as E

    d0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # history: days 0,1 — the global MIN lives in history
        (1, d0, 1, "A", 0.01, "{}"),
        (2, d0 + dt.timedelta(days=1), 1, "A", 5.0, "{}"),
        # delta: days 25..30 (max day 30, cutoff 23) — global MAX in delta
        (3, d0 + dt.timedelta(days=25), 1, "A", 99.99, "{}"),
        (4, d0 + dt.timedelta(days=30), 1, "A", 7.0, "{}"),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(E, "load_table", lambda s_, sf_, n_: e)
    r = E.q_events_incremental_rollup(spark, "x").collect()[0]
    assert r.ivm_match is True
    assert r.n_events == 4 and r.n_days == 4
    assert r.min_value == 0.01 and r.max_value == 99.99
    assert r.sum_value == 112.0
    assert r.delta_events == 2  # days 25 and 30 are >= cutoff (23)


def test_weighted_median_respects_units_not_rows(spark, monkeypatch):
    """One bulk part (90 units @ $1) vs two boutique parts (5 units each
    @ $100, $200): the ROW median is $100 but half the UNITS trade at
    $1 — the weighted median must say $1; with balanced weights the
    lower-median rule picks the lower of the two middles."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import core as C

    part = spark.createDataFrame(
        [(1, "B1"), (2, "B1"), (3, "B1"), (10, "B2"), (11, "B2")],
        "p_partkey long, p_brand string",
    )
    li_rows = [
        (1, 1, 90.0, 1.0),     # bulk cheap
        (2, 2, 5.0, 100.0),
        (3, 3, 5.0, 200.0),
        (4, 10, 10.0, 50.0),   # B2: equal weights -> lower middle wins
        (5, 11, 10.0, 80.0),
    ]
    li = spark.createDataFrame(
        [(i, pk, 1, 1, q, p, 0.0, 0.0, "N", "O", "1996-01-01") for i, pk, q, p in li_rows],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    )
    frames = {"lineitem": li, "part": part}
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: frames[n_])
    out = {r.p_brand: r for r in C.q_brand_weighted_median(spark, "x").collect()}
    assert out["B1"].weighted_median_price == 1.0
    assert out["B1"].total_units == 100
    assert out["B2"].weighted_median_price == 50.0


def test_pchart_flags_evidence_not_rank(spark, monkeypatch):
    """A 1-line supplier at 100% return rate must NOT flag (no
    evidence), while a high-volume supplier modestly above the pooled
    rate must — the whole point of control limits over naive top-N."""
    from pyspark.sql import functions as F

    from osm_poi_database_maker_spark.queries import core as C

    sup = spark.createDataFrame(
        [(1, "BASE", 0, 0.0), (2, "TINY", 0, 0.0), (3, "BADVOL", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double",
    )
    rows = []
    ln = 0
    # supplier 1: 10000 lines, 5% returns (the pool's anchor)
    for i in range(10000):
        ln += 1
        rows.append((ln, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "R" if i < 500 else "N", "O", "1996-01-01"))
    # supplier 2: one line, returned — rate 1.0, z ~ 4.3? n=1: z=(1-p)/sqrt(p(1-p)) ~ 4.2 -> hmm
    ln += 1
    rows.append((ln, 2, 2, 1, 1.0, 1.0, 0.0, 0.0, "R", "O", "1996-01-01"))
    # supplier 3: 2000 lines at 8% returns — modest rate, strong evidence
    for i in range(2000):
        ln += 1
        rows.append((ln, 3, 3, 1, 1.0, 1.0, 0.0, 0.0, "R" if i < 160 else "N", "O", "1996-01-01"))
    li = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8], r[9], r[10]) for r in rows],
        "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    )
    frames = {"lineitem": li, "supplier": sup}
    monkeypatch.setattr(C, "load_table", lambda s_, sf_, n_: frames[n_])
    out = {r.s_name: r for r in C.q_supplier_return_pchart(spark, "x").collect()}
    assert out["BADVOL"].out_of_control is True
    assert out["BASE"].out_of_control is False
    # the single-line 100% supplier: its raw z (~4.1) exceeds 3 but the
    # normal approximation is invalid at n*p_bar < 5, so the validity
    # precondition must suppress the flag
    assert out["TINY"].return_rate == 1.0
    assert out["TINY"].out_of_control is False
