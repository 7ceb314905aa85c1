"""Hive-metastore integration: the catalog layer must work against a real
metastore (embedded Derby), not just the in-memory session catalog.

Runs in a subprocess: Derby allows one connection per JVM, and the shared
test session is intentionally non-Hive.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from pyspark.sql import functions as F

from tests.test_pipeline import raw_dir  # noqa: F401  (fixture: Oct + Nov CSVs)

#: the checkout under test; the subprocess scripts import sparkgraft from it
REPO = str(Path(__file__).resolve().parents[1])


def test_hive_catalog_roundtrip(tmp_path):
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from sparkgraft.session import get_spark
        from sparkgraft import catalog
        from pyspark.sql.types import *

        wh = {wh!r}
        spark = get_spark("hive-test", master="local[2]", shuffle_partitions=2,
                          hive=True, warehouse_dir=wh)
        assert "hive" in spark.conf.get("spark.sql.catalogImplementation")

        spec = catalog.TableSpec(
            "t_hive", StructType([
                StructField("k", StringType()),
                StructField("v", LongType()),
                StructField("d", StringType()),
            ]), ("d",))
        df1 = spark.createDataFrame([("a", 1, "d1"), ("b", 2, "d2")], spec.schema)
        catalog.load_overwrite(spark, spec, df1)
        # dynamic overwrite: rewriting d1 must not touch d2
        df2 = spark.createDataFrame([("a2", 10, "d1")], spec.schema)
        catalog.load_overwrite(spark, spec, df2)
        rows = {{(r.k, r.v, r.d) for r in spark.table("t_hive").collect()}}
        assert rows == {{("a2", 10, "d1"), ("b", 2, "d2")}}, rows
        # metastore-registered: visible via catalog API + SQL
        assert spark.catalog.tableExists("t_hive")
        assert spark.sql("SHOW PARTITIONS t_hive").count() == 2
        print("HIVE_OK")
        spark.stop()
        """
    ).format(repo=REPO, wh=str(tmp_path / "wh"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert "HIVE_OK" in proc.stdout, f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"


def test_compact_small_files(spark, sf_dir, tmp_path):
    """50 tiny part files compact to the size-derived target; contents are
    byte-equal and the swap is atomic (original dir name preserved)."""
    import os

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "frag")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(50).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before == 50
    before = sorted(ev.collect())
    n_after = catalog.compact_small_files(spark, path, target_mb=128)
    assert n_after < n_before
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == n_after
    after = sorted(spark.read.parquet(path).collect())
    assert before == after


def test_compact_crash_recovery(spark, sf_dir, tmp_path):
    """The two-rename swap is NOT atomic: a crash between renames leaves
    the table path missing and the data stranded in __old_*. The next
    compaction call must restore it before proceeding, and must GC
    superseded __old_* leftovers when the table path survived."""
    import os
    import shutil

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "crashed")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(10).write.parquet(path)
    before = sorted(ev.collect())

    # simulate a crash between os.rename(path, old) and os.rename(tmp, path)
    os.rename(path, f"{path}__old_123")
    catalog.compact_small_files(spark, path, target_mb=128)
    assert not os.path.exists(f"{path}__old_123")
    assert before == sorted(spark.read.parquet(path).collect())

    # simulate a crash after the swap but before rmtree(old): leftover is
    # superseded and must be GC'd, table contents untouched
    shutil.copytree(path, f"{path}__old_456")
    catalog.compact_small_files(spark, path, target_mb=128)
    assert not os.path.exists(f"{path}__old_456")
    assert before == sorted(spark.read.parquet(path).collect())


def test_compact_small_files_clustered(spark, sf_dir, tmp_path):
    """With sort_cols the compaction re-clusters: footer min/max stats of
    the output files must cover disjoint-ish event_id ranges."""
    import os

    import pyarrow.parquet as pq

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "frag2")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(20).write.parquet(path)
    catalog.compact_small_files(spark, path, target_mb=1, sort_cols=["event_id"])
    spans = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        if md.num_rows == 0:
            continue
        col = md.row_group(0).column(0)
        lo = col.statistics.min
        hi = md.row_group(md.num_row_groups - 1).column(0).statistics.max
        spans.append((lo, hi))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"clustered files overlap: {spans}"


def test_compact_concurrent_reader(spark, sf_dir, tmp_path):
    """A reader that pins the current version (resolve_table_path) and
    scans WHILE compactions swap underneath must never error and must
    always see the full row count: the swap is one atomic symlink rename
    onto an immutable version dir, and superseded versions survive until
    the age-gated GC (default 1 h) — never mid-scan."""
    import os
    import threading

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "live")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    n_rows = ev.count()
    ev.repartition(16).write.parquet(path)

    # first call migrates the plain dir to the symlink layout
    catalog.compact_small_files(spark, path, target_mb=128)
    assert os.path.islink(path)

    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                pinned = catalog.resolve_table_path(path)
                assert spark.read.parquet(pinned).count() == n_rows
        except BaseException as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            catalog.compact_small_files(spark, path, target_mb=128)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, f"concurrent reader failed during swap: {errors[0]!r}"
    # superseded versions are retained (reader safety), not leaked forever:
    # an aged-out GC pass removes them but never the live version
    vers = [d for d in os.listdir(tmp_path) if d.startswith(".live__v_")]
    assert len(vers) >= 2
    catalog._gc_compaction_leftovers(path, gc_age_s=0.0)
    live = os.path.basename(catalog.resolve_table_path(path))
    vers_after = [d for d in os.listdir(tmp_path) if d.startswith(".live__v_")]
    assert vers_after == [live]
    assert sorted(spark.read.parquet(path).collect()) == sorted(ev.collect())


def test_compact_partitioned_table(spark, sf_dir, tmp_path):
    """Partitioned-root compaction: the orchestrator walks leaf partition
    dirs oldest-first under a budget, compaction artifacts are INVISIBLE
    to a reader of the table ROOT (the round-6 dot-prefix fix: an
    undotted ``d=x__v_123`` sibling would parse as a real partition value
    and double-count the partition), and partitions already at their
    size-derived file target are skipped on re-runs."""
    import os

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    root = str(tmp_path / "ptable")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d")
    )
    n_rows = ev.count()
    n_parts = ev.select("d").distinct().count()
    assert n_parts >= 3
    ev.repartition(6).write.partitionBy("d").parquet(root)
    before = sorted(spark.read.parquet(root).collect())

    # budgeted first pass: exactly one (the oldest) partition compacts
    out1 = catalog.compact_partitioned_table(spark, root, max_partitions=1)
    assert out1["compacted"] == 1
    # the root read is the regression this protects: version siblings
    # live inside the root and MUST NOT surface as partitions
    assert spark.read.parquet(root).count() == n_rows
    assert spark.read.parquet(root).select("d").distinct().count() == n_parts

    # unbudgeted pass drains the rest; every leaf is now one ~file
    out2 = catalog.compact_partitioned_table(spark, root)
    assert out2["compacted"] == n_parts - 1
    assert out2["skipped"] == 1
    assert sorted(spark.read.parquet(root).collect()) == before
    for leaf in os.listdir(root):
        if leaf.startswith(("_", ".")):
            continue
        files = [
            f
            for f in os.listdir(catalog.resolve_table_path(os.path.join(root, leaf)))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (leaf, files)

    # idempotent re-run: all partitions already at target -> all skipped
    out3 = catalog.compact_partitioned_table(spark, root)
    assert out3 == {"compacted": 0, "skipped": n_parts, "files_written": 0}
    assert sorted(spark.read.parquet(root).collect()) == before


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout vs 1-D time clustering, measured by footer min/max
    stats.  The honest trade the docstring states: a dedicated sort prunes
    its own dimension best, but gives ZERO pruning on any other; z-order
    gives every interleaved dimension real locality.  So: a user-range
    filter must skip nothing under time clustering and most files under
    z-order; a time-range filter must still prune under z-order (coarser
    than the dedicated sort — that part is expected and asserted too)."""
    import os

    import pyarrow.parquet as pq

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    ev = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp(F.col("ts").cast("timestamp")).alias("epoch"),
        )
    )
    lo_u, hi_u = 2, 3
    stats = ev.agg(F.min("epoch"), F.max("epoch")).first()
    span = stats[1] - stats[0]
    lo_t, hi_t = stats[0] + span // 3, stats[0] + span // 3 + span // 20
    n_files = 16

    def touched(path, box):
        n_total, n_hit = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            n_total += 1
            md = pq.read_metadata(os.path.join(path, f))
            names = md.schema.names
            hit = True
            for col, lo, hi in box:
                idx = names.index(col)
                c_lo = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                c_hi = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                if c_hi < lo or c_lo > hi:
                    hit = False
                    break
            if hit:
                n_hit += 1
        return n_hit, n_total

    p_time = str(tmp_path / "by_time")
    p_z = str(tmp_path / "by_z")
    catalog.save_clustered(ev, p_time, "epoch", n_files=n_files)
    catalog.save_zordered(ev, p_z, ["user_id", "epoch"], bits=12, n_files=n_files)

    # exact round-trip
    assert sorted(spark.read.parquet(p_z).collect()) == sorted(ev.collect())

    user_box = [("user_id", lo_u, hi_u)]
    time_box = [("epoch", lo_t, hi_t)]
    both_box = user_box + time_box

    # user filter: the time sort is blind (touches everything); z-order prunes
    t_user, t_n = touched(p_time, user_box)
    z_user, z_n = touched(p_z, user_box)
    assert t_user == t_n, "time clustering cannot prune a user predicate"
    assert z_user <= z_n // 2, f"z-order should skip most files: {z_user}/{z_n}"

    # time filter: dedicated sort prunes best; z-order must still prune
    t_time, _ = touched(p_time, time_box)
    z_time, _ = touched(p_z, time_box)
    assert t_time <= z_time, "dedicated sort is the per-dimension optimum"
    assert z_time < z_n, f"z-order must still prune time: {z_time}/{z_n}"

    # combined box: z-order at least matches its weaker dimension alone
    z_both, _ = touched(p_z, both_box)
    assert z_both <= min(z_user, z_time)


def test_analyze_table_feeds_cbo_stats(tmp_path):
    """catalog.analyze_table must land rowCount in the metastore and, with
    CBO enabled, surface it as the optimized plan's cardinality estimate
    (the input join reordering / stats-based broadcast decisions read)."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from sparkgraft.session import get_spark
        from sparkgraft import catalog

        spark = get_spark("cbo-test", master="local[2]", shuffle_partitions=2,
                          warehouse_dir={wh!r})
        spark.range(0, 5000).selectExpr("id", "id % 7 AS k") \\
             .write.mode("overwrite").saveAsTable("t_cbo")
        # before ANALYZE: no rowCount in the catalog statistics line
        pre = spark.sql("DESC EXTENDED t_cbo").filter(
            "col_name = 'Statistics'").collect()
        assert not pre or "rows" not in pre[0].data_type, pre

        catalog.analyze_table(spark, "t_cbo", columns=("id", "k"))
        post = spark.sql("DESC EXTENDED t_cbo").filter(
            "col_name = 'Statistics'").collect()
        assert post and "5000 rows" in post[0].data_type, post
        ndv = spark.sql("DESC EXTENDED t_cbo k").filter(
            "info_name = 'distinct_count'").collect()
        assert ndv and int(ndv[0].info_value) == 7, ndv

        spark.conf.set("spark.sql.cbo.enabled", "true")
        stats = spark.table("t_cbo")._jdf.queryExecution() \\
            .optimizedPlan().stats()
        assert int(str(stats.rowCount().get())) == 5000, str(stats)
        print("CBO_OK")
        spark.stop()
        """
    ).format(repo=REPO, wh=str(tmp_path / "wh"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
    )
    assert "CBO_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"
    )


def test_fingerprint_invariant_under_compaction_and_reload(spark, sf_dir, tmp_path):
    """The table fingerprint composed with the maintenance ops it exists to
    audit: compact_small_files (50 fragments -> few files) and a repeated
    idempotent load_overwrite must both preserve the digest bit-for-bit —
    the end-to-end 'did maintenance corrupt anything' check."""
    from pyspark.sql import functions as F

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    def digest(df):
        h = df.select(
            F.expr(
                "CAST(conv(substr(md5(concat_ws('|', event_id, user_id,"
                " CAST(round(value * 1000000) AS BIGINT))), 1, 15), 16, 10)"
                " AS BIGINT)"
            ).alias("h")
        )
        return tuple(
            h.agg(
                F.count(F.lit(1)),
                F.sum(F.col("h").cast("decimal(38,0)")).cast("string"),
                F.expr("bit_xor(h)"),
            ).collect()[0]
        )

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = digest(ev)

    # compaction: 50 fragments -> size-derived target, digest unchanged
    frag = str(tmp_path / "frag")
    ev.repartition(50).write.parquet(frag)
    catalog.compact_small_files(spark, frag, target_mb=128)
    assert digest(spark.read.parquet(frag)) == base

    # idempotent overwrite: loading the same slice twice leaves the digest
    # of the reloaded table equal to the source's
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    spark.sql("DROP TABLE IF EXISTS fp_events")
    spec = catalog.TableSpec(
        "fp_events",
        StructType([
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("d", StringType()),
        ]),
        ("d",),
    )
    staged = ev.withColumn("d", F.lit("all"))
    try:
        catalog.load_overwrite(spark, spec, staged)
        catalog.load_overwrite(spark, spec, staged)  # the idempotent replay
        got = digest(spark.table("fp_events").select("event_id", "user_id", "value"))
        assert got == base
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_events")


def test_gc_age_counts_from_supersession_not_last_write(spark, sf_dir, tmp_path):
    """Round-6 ADVICE (medium): a version dir that sat LIVE and quiet for
    longer than gc_age_s must NOT become GC-eligible the instant a swap
    re-points the symlink away from it — a reader that pinned it via
    resolve_table_path just before the swap may still be scanning.  The
    swap re-stamps the outgoing version (os.utime), so the age gate
    measures time since SUPERSESSION and every superseded version gets
    the full gc_age_s of post-swap retention."""
    import os
    import time

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "aged")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    ev.repartition(8).write.parquet(path)
    catalog.compact_small_files(spark, path, target_mb=128)  # migrate to symlink

    # age the ENTIRE live tree far past the 1h gate (a table written long
    # ago and never touched since — the adversarial case from the advice)
    live = catalog.resolve_table_path(path)
    old = time.time() - 7200
    os.utime(live, (old, old))
    for root, dirs, files in os.walk(live):
        for name in (*dirs, *files):
            os.utime(os.path.join(root, name), (old, old))

    # supersede it: the swap must re-stamp `live` even though nothing
    # inside it was written this side of the gate
    catalog.compact_small_files(spark, path, target_mb=128, gc_age_s=3600.0)
    assert os.path.exists(live), "superseded version vanished at swap time"
    catalog._gc_compaction_leftovers(path, gc_age_s=3600.0)
    assert os.path.exists(live), (
        "superseded version GC'd within gc_age_s of the swap — the age "
        "gate is reading last-write time, not supersession time"
    )

    # and once genuinely aged past the gate AFTER supersession, it goes
    os.utime(live, (old, old))
    catalog._gc_compaction_leftovers(path, gc_age_s=3600.0)
    assert not os.path.exists(live)


def test_compact_two_process_stress(spark, sf_dir, tmp_path):
    """Two REAL concurrent compactor processes (separate JVMs — not
    threads, so there is no shared driver lock hiding races) pound the
    same table path while each also read-verifies the row count across
    every swap.  The protocol under test: temp-dir uniqueness (time_ns
    suffix), atomic symlink rename (last writer wins, content identical),
    age-gated GC never deleting the other process's in-flight temp dir,
    and version pinning keeping every read count exact mid-swap."""
    import os
    import subprocess
    import sys
    import textwrap

    from sparkgraft import catalog
    from sparkgraft.io.readers import read_table

    path = str(tmp_path / "contended")
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    n_rows = ev.count()
    ev.repartition(16).write.parquet(path)
    catalog.compact_small_files(spark, path, target_mb=128)  # migrate once

    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, {repo!r})
        from sparkgraft.session import get_spark
        from sparkgraft import catalog

        tag, path, n_rows = sys.argv[1], {path!r}, {n_rows}
        spark = get_spark(f"compact-stress-" + tag, master="local[4]",
                          shuffle_partitions=4)
        for i in range(3):
            catalog.compact_small_files(spark, path, target_mb=128)
            pinned = catalog.resolve_table_path(path)
            got = spark.read.parquet(pinned).count()
            assert got == n_rows, (tag, i, got, n_rows)
        print("STRESS_OK_" + tag)
        spark.stop()
        """
    ).format(repo=REPO, path=path, n_rows=n_rows)

    # the parent is a THIRD concurrent party: a version-pinning reader
    # looping across every swap the two children make
    import threading

    errors: list[BaseException] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                pinned = catalog.resolve_table_path(path)
                assert spark.read.parquet(pinned).count() == n_rows
        except BaseException as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", script, tag],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                cwd=str(tmp_path),
            )
            for tag in ("A", "B")
        ]
        outs = []
        for p, tag in zip(procs, ("A", "B")):
            out, err = p.communicate(timeout=600)
            outs.append((tag, p.returncode, out, err))
    finally:
        stop.set()
        t.join(timeout=120)
    for tag, rc, out, err in outs:
        assert rc == 0 and f"STRESS_OK_{tag}" in out, (
            f"compactor {tag} rc={rc}\nstdout={out[-2000:]}\nstderr={err[-3000:]}"
        )
    assert not errors, f"parent reader failed during race: {errors[0]!r}"
    # contents survived six racing swaps bit-for-bit; symlink still valid
    assert os.path.islink(path)
    assert sorted(spark.read.parquet(catalog.resolve_table_path(path)).collect()) \
        == sorted(ev.collect())


def test_sibling_glob_ignores_non_artifact_neighbors(tmp_path):
    """A hand-made neighbor like ``events__old_backup`` matches the
    trailing-* glob but is NOT a compaction artifact: it must not crash
    recovery's int-recency sort, must never be restored over the table,
    and must never be deleted as a superseded leftover."""
    import os

    from sparkgraft import catalog

    table = str(tmp_path / "events")
    backup = str(tmp_path / "events__old_backup")
    artifact = str(tmp_path / ".events__old_5")
    os.makedirs(table)
    os.makedirs(backup)
    os.makedirs(artifact)
    assert catalog._sibling_glob(table, "old") == [artifact]

    # table present: recovery removes the superseded artifact, nothing else
    catalog._recover_interrupted_compaction(table)
    assert not os.path.exists(artifact)
    assert os.path.isdir(backup)

    # table missing: restore picks the real artifact, not the lookalike
    os.makedirs(str(tmp_path / ".events__old_7"))
    os.rmdir(table)
    catalog._recover_interrupted_compaction(table)
    assert os.path.isdir(table)
    assert os.path.isdir(backup)


def test_table_versions_time_travel_and_restore(spark, tmp_path):
    """The swap protocol's retained version dirs ARE snapshots:
    list_table_versions exposes them, resolve_table_path_asof pins reads
    to the version live at a wall-clock instant (compaction-pointed:
    ingest appended before a version's supersession belongs to it), and
    restore_table_version rolls the table back with one atomic pointer
    flip — after which the GC treats the rolled-away future as any other
    superseded snapshot and never touches the restored live version."""
    import os
    import time as _time

    import pytest

    from sparkgraft import catalog

    path = str(tmp_path / "tt")
    spark.createDataFrame([(i,) for i in range(5)], "x int").write.parquet(path)

    catalog.compact_small_files(spark, path, target_mb=128)
    vers = catalog.list_table_versions(path)
    # legacy migration keeps the original data as the ns-1 snapshot
    assert len(vers) == 2 and vers[-1]["live"] and not vers[0]["live"]
    legacy_ns, v1_ns = vers[0]["created_ns"], vers[1]["created_ns"]

    # ingest lands in the LIVE version; the next compaction freezes it
    spark.createDataFrame([(i,) for i in range(5, 8)], "x int").write.mode(
        "append"
    ).parquet(path)
    catalog.compact_small_files(spark, path, target_mb=128)
    vers = catalog.list_table_versions(path)
    assert [v["live"] for v in vers] == [False, False, True]

    # as-of reads: the pre-compaction snapshot holds the original 5 rows;
    # now resolves to the live 8-row version
    asof_legacy = catalog.resolve_table_path_asof(path, legacy_ns)
    assert spark.read.parquet(asof_legacy).count() == 5
    asof_now = catalog.resolve_table_path_asof(path, _time.time_ns())
    assert asof_now == catalog.resolve_table_path(path)
    assert spark.read.parquet(asof_now).count() == 8
    with pytest.raises(FileNotFoundError, match="no retained snapshot"):
        catalog.resolve_table_path_asof(path, legacy_ns - 1)

    # rollback: restore appends a NEW version (hardlink farm over the
    # snapshot — zero bytes copied) so the as-of timeline stays linear
    restored = catalog.restore_table_version(path, legacy_ns)
    assert os.path.realpath(path) == os.path.realpath(restored)
    assert spark.read.parquet(path).count() == 5
    vers = catalog.list_table_versions(path)
    assert len(vers) == 4 and vers[-1]["live"]
    restore_ns = vers[-1]["created_ns"]
    # as-of NOW resolves to the restored content, NOT the rolled-away bad
    # load; as-of inside the rolled-away window still sees that version
    assert catalog.resolve_table_path_asof(path, _time.time_ns()) == restored
    v2_ns = vers[2]["created_ns"]
    assert spark.read.parquet(
        catalog.resolve_table_path_asof(path, v2_ns)
    ).count() == 8
    with pytest.raises(FileNotFoundError, match="created_ns"):
        catalog.restore_table_version(path, 123)

    # GC with zero retention removes every superseded version — including
    # the snapshot the restore was built FROM — but never the live one;
    # the hardlinks keep the restored data alive through that reclaim
    catalog._gc_compaction_leftovers(path, gc_age_s=0.0)
    assert spark.read.parquet(path).count() == 5
    remaining = catalog.list_table_versions(path)
    assert [v["created_ns"] for v in remaining] == [restore_ns]
    # an un-managed plain directory has no snapshots / cannot restore
    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1,)], "x int").write.parquet(plain)
    assert catalog.list_table_versions(plain) == []
    with pytest.raises(ValueError, match="not a compaction-managed"):
        catalog.restore_table_version(plain, v1_ns)


def test_orphaned_staging_recovery(spark):
    """A driver killed mid-load by an earlier, staging version of
    load_overwrite leaked its temp_<table>_<ns> staging table (the finally
    never ran — same hole as the reference's HiveConnector).  The
    ensure_table startup sweep must collect orphans
    past the horizon, spare live stagings and similarly-named tables, and
    the next load must land exactly the intended rows."""
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sparkgraft import catalog

    spec = catalog.TableSpec(
        "t_orphan",
        StructType(
            [
                StructField("k", StringType()),
                StructField("v", LongType()),
                StructField("d", StringType()),
            ]
        ),
        ("d",),
    )
    for t in ("t_orphan",):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    # pre-seed: one stale orphan (2h old), one live staging (now), and a
    # lookalike of ANOTHER table that must never match this table's sweep
    old_ns = time.time_ns() - int(7200e9)
    orphan = f"temp_t_orphan_{old_ns}"
    live = f"temp_t_orphan_{time.time_ns()}"
    other = f"temp_t_orphanzz_{old_ns}"
    for name in (orphan, live, other):
        spark.createDataFrame([("junk", 0, "dx")], spec.schema).write.mode(
            "overwrite"
        ).saveAsTable(name)

    try:
        df = spark.createDataFrame([("a", 1, "d1"), ("b", 2, "d2")], spec.schema)
        catalog.load_overwrite(spark, spec, df)  # ensure_table sweeps first

        assert not spark.catalog.tableExists(orphan), "stale orphan survived"
        assert spark.catalog.tableExists(live), "live staging was collected"
        assert spark.catalog.tableExists(other), "sweep crossed table boundary"
        got = {(r.k, r.v, r.d) for r in spark.table("t_orphan").collect()}
        assert got == {("a", 1, "d1"), ("b", 2, "d2")}

        # replay after recovery stays idempotent (byte-identical contents)
        catalog.load_overwrite(spark, spec, df)
        again = {(r.k, r.v, r.d) for r in spark.table("t_orphan").collect()}
        assert again == got
    finally:
        for name in (live, other, "t_orphan"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_load_overwrite_writes_target_directly(spark, monkeypatch):
    """load_overwrite writes the target in one dynamic-overwrite insert:
    a frame that reads the same partitioned table replaces only its own
    partitions, no temp_<table>_* staging table is ever created, and a
    session set to static overwrite still keeps untouched partitions and
    gets its static mode back."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sparkgraft import catalog

    spec = catalog.TableSpec(
        "t_direct",
        StructType(
            [
                StructField("k", StringType()),
                StructField("v", LongType()),
                StructField("d", StringType()),
            ]
        ),
        ("d",),
    )
    spark.sql("DROP TABLE IF EXISTS t_direct")

    created: list[str] = []
    save_as_table = DataFrameWriter.saveAsTable
    session_sql = type(spark).sql

    def recording_save(self, name, *args, **kwargs):
        created.append(name)
        return save_as_table(self, name, *args, **kwargs)

    def recording_sql(self, query, *args, **kwargs):
        created.append(query)
        return session_sql(self, query, *args, **kwargs)

    def rows():
        return {(r.k, r.v, r.d) for r in spark.table("t_direct").collect()}

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        catalog.load_overwrite(
            spark,
            spec,
            spark.createDataFrame([("a", 1, "d1"), ("b", 2, "d2")], spec.schema),
        )
        monkeypatch.setattr(DataFrameWriter, "saveAsTable", recording_save)
        monkeypatch.setattr(type(spark), "sql", recording_sql)

        # the frame reads partition d1 of the target it overwrites
        bumped = spark.table("t_direct").where("d = 'd1'").withColumn(
            "v", F.col("v") + 10
        )
        catalog.load_overwrite(spark, spec, bumped)
        assert rows() == {("a", 11, "d1"), ("b", 2, "d2")}

        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        catalog.load_overwrite(
            spark, spec, spark.createDataFrame([("c", 3, "d1")], spec.schema)
        )
        assert rows() == {("c", 3, "d1"), ("b", 2, "d2")}
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"

        assert not [c for c in created if "temp_t_direct" in c], created
        assert not [
            n for n in catalog._list_table_names(spark) if n.startswith("temp_t_direct")
        ]
    finally:
        monkeypatch.undo()
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        spark.sql("DROP TABLE IF EXISTS t_direct")


def _describe(spark, name: str, key: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    return next(r.data_type for r in rows if r.col_name == key)


def _chunk_codecs(spark, name: str) -> dict[str, frozenset[str]]:
    """Partition directory -> codecs of every column chunk in its files."""
    import pyarrow.parquet as pq

    root = Path(_describe(spark, name, "Location").removeprefix("file:"))
    out: dict[str, frozenset[str]] = {}
    for f in root.glob("*/*.parquet"):
        meta = pq.read_metadata(f)
        out[f.parent.name] = out.get(f.parent.name, frozenset()).union(
            meta.row_group(i).column(j).compression
            for i in range(meta.num_row_groups)
            for j in range(meta.num_columns)
        )
    return out


def test_load_months_writes_zstd(spark, raw_dir):
    """A month load into a fresh table writes every column chunk of every
    data file with the engine's codec, pinned as the table's storage
    property at create time."""
    from dataclasses import replace

    from sparkgraft.pipelines import user_activity as ua

    spec = replace(ua.USER_ACTIVITY, name="t_zstd")
    spark.sql("DROP TABLE IF EXISTS t_zstd")
    try:
        ua.load_months(spark, raw_dir, ["2019-10"], spec)
        assert _describe(spark, "t_zstd", "Storage Properties") == "[compression=zstd]"
        codecs = _chunk_codecs(spark, "t_zstd")
        assert len(codecs) > 1, codecs
        assert set(codecs.values()) == {frozenset({"ZSTD"})}, codecs
    finally:
        spark.sql("DROP TABLE IF EXISTS t_zstd")


def test_snappy_table_upgrade_keeps_rows(spark, raw_dir):
    """A table created with snappy pinned (the engine's codec before zstd)
    keeps it: later loads write snappy too, and the rows equal a fresh
    one-shot load of the same months.  Once the property is switched by
    hand, partitions of both codecs coexist and read back alike."""
    from collections import Counter
    from dataclasses import replace

    from sparkgraft.pipelines import user_activity as ua

    old = replace(ua.USER_ACTIVITY, name="t_snappy_old")
    fresh = replace(ua.USER_ACTIVITY, name="t_snappy_fresh")

    def rows(name):
        return Counter(tuple(r) for r in spark.table(name).collect())

    for name in (old.name, fresh.name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        # the create of the earlier ensure_table, then its first load
        (
            spark.createDataFrame([], old.schema)
            .select(*old.ordered_columns)
            .write.mode("ignore")
            .format("parquet")
            .option("compression", "snappy")
            .partitionBy(*old.partition_keys)
            .saveAsTable(old.name)
        )
        ua.load_months(spark, raw_dir, ["2019-10"], old)
        ua.load_months(spark, raw_dir, ["2019-11"], old)
        ua.load_months(spark, raw_dir, ["2019-10"], old)
        ua.load_months(spark, raw_dir, ["2019-10", "2019-11"], fresh)

        assert _describe(spark, old.name, "Storage Properties") == "[compression=snappy]"
        assert set(_chunk_codecs(spark, old.name).values()) == {frozenset({"SNAPPY"})}
        assert set(_chunk_codecs(spark, fresh.name).values()) == {frozenset({"ZSTD"})}
        expected = rows(fresh.name)
        assert sum(expected.values()) == 9
        assert rows(old.name) == expected

        spark.sql(f"ALTER TABLE {old.name} SET SERDEPROPERTIES ('compression'='zstd')")
        ua.load_months(spark, raw_dir, ["2019-11"], old)
        codecs = _chunk_codecs(spark, old.name)
        assert set(codecs.values()) == {frozenset({"SNAPPY"}), frozenset({"ZSTD"})}, codecs
        assert rows(old.name) == expected
    finally:
        for name in (old.name, fresh.name):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
