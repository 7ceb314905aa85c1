"""End-to-end golden fixture for the user_activity ETL (FIXTURES.md F3):
cross-batch session continuity, KST/UTC partition-edge preservation, and
idempotent month reloads — the reference's core semantic contract."""

from __future__ import annotations

import pytest

from sparkgraft.pipelines import user_activity as ua

HDR = "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session"


def _row(ts, user, etype="view", pid="p1"):
    return f"{ts} UTC,{etype},{pid},c1,electronics.smartphone,acme,100,{user},ignored"


OCT_ROWS = [
    _row("2019-10-05 10:00:00", "A"),        # A session 1
    _row("2019-10-05 10:04:59", "A"),        # same (gap 299)
    _row("2019-10-05 10:09:59", "A"),        # NEW (gap 300 exactly)
    _row("2019-10-31 23:58:00", "F"),        # continuity seed (180s to Nov)
    _row("2019-10-31 23:50:00", "G"),        # too old to carry (660s)
    _row("2019-10-31 15:30:00", "E"),        # UTC Oct 31 -> KST Nov 1 partition
]

NOV_ROWS = [
    _row("2019-11-01 00:01:00", "F"),        # continues F's Oct session
    _row("2019-11-01 00:01:00", "G"),        # new session (gap 660)
    _row("2019-11-02 12:00:00", "E2"),
]


@pytest.fixture()
def raw_dir(tmp_path):
    (tmp_path / "2019-Oct.csv").write_text("\n".join([HDR, *OCT_ROWS]) + "\n")
    (tmp_path / "2019-Nov.csv").write_text("\n".join([HDR, *NOV_ROWS]) + "\n")
    return str(tmp_path)


@pytest.fixture()
def clean_table(spark):
    spark.sql(f"DROP TABLE IF EXISTS {ua.USER_ACTIVITY.name}")
    yield
    spark.sql(f"DROP TABLE IF EXISTS {ua.USER_ACTIVITY.name}")


def _table(spark):
    return {
        (r.user_id, str(r.event_ts_utc), str(r.event_date_kst), r.session_id)
        for r in spark.table(ua.USER_ACTIVITY.name).collect()
    }


def _sessions(spark, user):
    return {
        str(r.event_ts_utc): r.session_id
        for r in spark.table(ua.USER_ACTIVITY.name)
        .where(f"user_id = '{user}'")
        .collect()
    }


def test_full_backfill_semantics(spark, raw_dir, clean_table):
    # --- load October ---
    ua.load_months(spark, raw_dir, ["2019-10"])
    a = _sessions(spark, "A")
    assert a["2019-10-05 10:00:00"] == a["2019-10-05 10:04:59"], "gap 299 keeps session"
    assert a["2019-10-05 10:00:00"] != a["2019-10-05 10:09:59"], "gap 300 starts session"
    # KST edge: UTC Oct 31 15:30 lands in the 2019-11-01 KST partition
    e = spark.table(ua.USER_ACTIVITY.name).where("user_id = 'E'").collect()
    assert str(e[0].event_date_kst) == "2019-11-01"

    # --- load November: continuity across the batch boundary ---
    f_oct = _sessions(spark, "F")["2019-10-31 23:58:00"]
    g_oct = _sessions(spark, "G")["2019-10-31 23:50:00"]
    ua.load_months(spark, raw_dir, ["2019-11"])
    assert _sessions(spark, "F")["2019-11-01 00:01:00"] == f_oct, "F continues"
    assert _sessions(spark, "G")["2019-11-01 00:01:00"] != g_oct, "G restarts"
    # the edge-partition row from October survived November's overwrite
    assert spark.table(ua.USER_ACTIVITY.name).where("user_id = 'E'").count() == 1

    # --- idempotency: reloading October changes nothing ---
    before = _table(spark)
    ua.load_months(spark, raw_dir, ["2019-10"])
    assert _table(spark) == before, "October reload must be a no-op"
    # and reloading both months at once (one consecutive run) is stable too
    ua.load_months(spark, raw_dir, ["2019-10", "2019-11"])
    assert _table(spark) == before, "full reload must be a no-op"


def test_single_run_load_looks_up_target_twice(spark, raw_dir, clean_table, monkeypatch):
    """A one-run load reads the target once for both the carry-over
    frontier and the edge rows; load_overwrite's own ensure_table (its
    staging sweep) is the only other metastore listing."""
    from sparkgraft import catalog

    calls = []
    ensure = catalog.ensure_table

    def counting_ensure(spark_, spec):
        calls.append(spec.name)
        ensure(spark_, spec)

    monkeypatch.setattr(catalog, "ensure_table", counting_ensure)
    ua.load_months(spark, raw_dir, ["2019-10"])
    assert len(calls) == 2, calls


def test_wau_queries_over_table(spark, raw_dir, clean_table):
    ua.load_months(spark, raw_dir, ["2019-10", "2019-11"])
    users = {str(r.event_week): r.wau for r in ua.user_wau(spark).collect()}
    # KST week of 2019-10-05 (Sat) = week starting Mon 2019-09-30
    assert users["2019-09-30"] == 1  # only A
    sessions = {str(r.event_week): r.wau for r in ua.session_wau(spark).collect()}
    assert sessions["2019-09-30"] == 2  # A's two sessions


def test_partition_pruning_on_curated_table(spark, raw_dir, clean_table):
    """A date-selective read of the curated table must prune to one
    partition directory (the mechanism the month load's frontier and edge
    reads rely on; test_month_load_reads_only_pruned_partitions checks
    that they do)."""
    ua.load_months(spark, raw_dir, ["2019-10", "2019-11"])
    df = spark.table(ua.USER_ACTIVITY.name).where("event_date_kst = DATE'2019-10-05'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*event_date_kst#\d+ = 2019-10-05", plan), plan


def test_month_load_reads_only_pruned_partitions(spark, raw_dir, clean_table, monkeypatch):
    """Every scan of the target in a month load (carry-over frontier and
    edge rows) carries a partition filter on event_date_kst, so a load
    reads its boundary partitions, not the whole table."""
    import re

    from sparkgraft import catalog

    ua.load_months(spark, raw_dir, ["2019-10"])
    plans = []
    load = catalog.load_overwrite

    def capturing_load(spark_, spec, df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        load(spark_, spec, df)

    monkeypatch.setattr(catalog, "load_overwrite", capturing_load)
    ua.load_months(spark, raw_dir, ["2019-11"])
    assert len(plans) == 1
    scans = [
        line
        for line in plans[0].splitlines()
        if "FileScan parquet" in line and ua.USER_ACTIVITY.name in line
    ]
    assert len(scans) >= 2, plans[0]  # frontier + edge rows
    for scan in scans:
        assert re.search(r"PartitionFilters: \[[^\]]*event_date_kst", scan), scan


def test_run_coalescing():
    assert ua.coalesce_runs(["2019-11", "2019-10", "2020-01"]) == [
        ["2019-10", "2019-11"],
        ["2020-01"],
    ]
    assert ua.coalesce_runs(["2019-12", "2020-01"]) == [["2019-12", "2020-01"]]
