"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up (several times,
so that set-up time is a median), warms up, runs ops in a closed loop
(one client, one op in flight) and checks every op's output after the
timed phase.  An op is one call sequence a user of the engine would make
and wait for; its output is collected inside the timed region.

- ``etl_backfill``: month loads and reloads through
  ``pipelines.user_activity.load_months`` (the write path).
- ``olap_mix``: the reference's WAU SQL on the curated table, TPC-H,
  sessionize and registry lanes, curation lanes over documents and
  embeddings, and one trigger of the streaming sessionizer per pass (the
  read path, the Python-worker boundary and the state store).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, replace
from typing import Any, Callable

import duckdb

from perfbench import gen
from perfbench.trace import Tracer

CLICK_FIRST_MONTH = "2019-10"
RAW_TS = "%Y-%m-%d %H:%M:%S UTC"


class WrongOutput(Exception):
    """An op completed but its output disagrees with the oracle."""


@dataclass
class OpResult:
    name: str
    kind: str
    seconds: float
    rows: int = 0  # input rows the op consumed
    output: Any = None
    error: str | None = None


@dataclass
class Ctx:
    spark: Any
    tracer: Tracer | None
    work: str
    seed: int
    rng: random.Random
    size: dict


def frame(pdf):
    """Wrap a pandas frame so ``tests.oracle.assert_parity`` takes it."""

    class _F:
        def toPandas(self):  # noqa: N802 — the DataFrame method name
            return pdf

    return _F()


def check_parity(spark_pdf, oracle_pdf) -> None:
    from tests.oracle import assert_parity

    try:
        assert_parity(frame(spark_pdf), oracle_pdf)
    except AssertionError as exc:
        raise WrongOutput(str(exc)[:300]) from exc


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# ---------------------------------------------------------------------------
# DuckDB oracle for the curated clickstream table
# ---------------------------------------------------------------------------


def batch_sessionized_sql(csv_paths: list[str]) -> str:
    """One-shot batch sessionization of the whole raw corpus: the
    incremental == batch oracle of the ``etl_user_activity_roundtrip``
    lane, over the generated month files.  The session start is taken
    over the peers of each row (RANGE, not ROWS): rows that tie on every
    ordering key would otherwise get whichever start DuckDB's window sort
    puts first, and the bots' bursts do tie."""
    files = ", ".join(f"'{p}'" for p in csv_paths)
    return f"""
    WITH raw AS (
      SELECT strptime(event_time, '{RAW_TS}') AS ts, user_id, event_type,
             price, product_id, brand, category_id, category_code
      FROM read_csv([{files}], header = true, auto_detect = false,
        columns = {{'event_time': 'VARCHAR', 'event_type': 'VARCHAR',
                   'product_id': 'VARCHAR', 'category_id': 'VARCHAR',
                   'category_code': 'VARCHAR', 'brand': 'VARCHAR',
                   'price': 'INTEGER', 'user_id': 'VARCHAR',
                   'user_session': 'VARCHAR'}})),
    lagged AS (
      SELECT *, lag(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_type, product_id) AS prev_ts
      FROM raw),
    flagged AS (
      SELECT *, (prev_ts IS NULL OR ts >= prev_ts + INTERVAL 300 SECOND) AS is_new
      FROM lagged),
    sessioned AS (
      SELECT *, sha256(user_id || '#' || CAST(epoch_us(max(CASE WHEN is_new THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_type, product_id
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS VARCHAR))
             AS session_id
      FROM flagged)
    SELECT CAST(ts + INTERVAL 9 HOUR AS DATE) AS event_date_kst,
           ts AS event_ts_utc, event_type, session_id, user_id,
           price, product_id, brand, category_id, category_code
    FROM sessioned
    """


def check_curated_table(ctx: Ctx, spec, csv_paths: list[str]) -> None:
    """The curated table equals the batch sessionization of ``csv_paths``."""
    from sparkgraft import catalog

    with ctx.tracer.span("catalog", "read_table", "build"):
        df = catalog.read_table(ctx.spark, spec)
    got = df.toPandas()
    want = duckdb.connect().execute(batch_sessionized_sql(csv_paths)).df()
    check_parity(got, want)


def wau_sql(ctx: Ctx, spec, key: str):
    """The reference's WAU report over the curated table, collected."""
    from sparkgraft import catalog
    from sparkgraft.pipelines import user_activity as ua

    with ctx.tracer.span("catalog", "extract_sql", "build"):
        df = catalog.extract_sql(ctx.spark, spec, ua.wau_sql(key))
    with ctx.tracer.span("catalog", "extract_sql", "exec"):
        return df.toPandas()


def check_wau(ctx: Ctx, spec, key: str, csv_paths: list[str]) -> None:
    from sparkgraft.pipelines import user_activity as ua

    table_sql = batch_sessionized_sql(csv_paths)
    want = duckdb.connect().execute(ua.wau_sql(key).replace("{TABLE}", f"({table_sql})")).df()
    check_parity(wau_sql(ctx, spec, key), want)


def month_csvs(raw_dir: str, months: list[str]) -> list[str]:
    from sparkgraft.io.readers import month_filenames

    return [os.path.join(raw_dir, f) for f in month_filenames(months)]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    setup_cycles = 3
    #: correctness checks that ran (a run with none is not correct)
    checks_run = 0
    #: files of the curated table when the run ended
    table_files = 0

    def generate(self, ctx: Ctx) -> dict:
        """Write the seed's inputs under ``ctx.work``; returns sizes."""
        raise NotImplementedError

    def setup(self, ctx: Ctx, cycle: int) -> None:
        """One set-up cycle: fixtures loaded through the program into a
        fresh target.  The last cycle's target is the one the ops use."""
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        """Run each kind of op once, untimed, so codegen and lazy
        initialisation are paid before the timed phase."""

    def run(self, ctx: Ctx, seconds: float) -> list[OpResult]:
        raise NotImplementedError

    def check(self, ctx: Ctx, results: list[OpResult]) -> None:
        """Mark each op whose output is wrong (sets ``error``)."""
        raise NotImplementedError

    def extra_metrics(self, ctx: Ctx, results: list[OpResult]) -> dict:
        """``name -> (value, unit, samples)``; holds at least
        ``stored_bytes_per_input_byte``."""
        raise NotImplementedError

    def stored_ratio(self, ctx: Ctx, csv_bytes: int, months: int) -> tuple:
        """Curated table bytes on disk per raw CSV byte loaded into it."""
        stored, self.table_files = dir_bytes_and_files(
            os.path.join(ctx.work, "warehouse", self.spec.name)
        )
        return stored / csv_bytes, "ratio", months


def timed(name: str, kind: str, rows: int, fn: Callable[[], Any]) -> OpResult:
    t0 = time.perf_counter()
    try:
        out = fn()
        err = None
    except Exception as exc:  # noqa: BLE001 — one failing op is counted, never fatal
        out, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
    return OpResult(name, kind, time.perf_counter() - t0, rows, out, err)


class EtlBackfill(Workload):
    """Raw clickstream months, loaded one at a time into a fresh Hive
    table, then reloads of months already loaded."""

    name = "etl_backfill"
    new_months = 2

    def generate(self, ctx: Ctx) -> dict:
        self.raw = os.path.join(ctx.work, "raw")
        months = [
            m.strftime("%Y-%m") for m in gen.month_starts(CLICK_FIRST_MONTH, 1 + self.new_months)
        ]
        self.months = months
        csv_bytes = gen.clickstream_months(
            self.raw, ctx.seed, months, ctx.size["rows_per_month"], ctx.size["users"]
        )
        self.month_rows = ctx.size["rows_per_month"]
        self.month_bytes = {
            m: os.path.getsize(p) for m, p in zip(months, month_csvs(self.raw, months))
        }
        return {"csv_bytes": csv_bytes, "months": len(months)}

    def setup(self, ctx: Ctx, cycle: int) -> None:
        from sparkgraft.pipelines import user_activity as ua

        self.spec = replace(ua.USER_ACTIVITY, name=f"user_activity_setup{cycle}")
        with ctx.tracer.span("pipelines", "load_months"):
            ua.load_months(ctx.spark, self.raw, [self.months[0]], self.spec)
        self.loaded = [self.months[0]]

    def warmup(self, ctx: Ctx) -> None:
        self._load(ctx, self.months[0])

    def _schedule(self, ctx: Ctx):
        """Months not loaded yet first (in order), then seeded reloads of
        loaded ones."""
        for month in self.months:
            if month not in self.loaded:
                yield "load", month
        while True:
            yield "reload", ctx.rng.choice(self.loaded)

    def _load(self, ctx: Ctx, month: str) -> None:
        from sparkgraft.pipelines import user_activity as ua

        with ctx.tracer.span("pipelines", "load_months"):
            ua.load_months(ctx.spark, self.raw, [month], self.spec)

    def run(self, ctx: Ctx, seconds: float) -> list[OpResult]:
        results = []
        pending = len(self.months) - len(self.loaded)
        t_end = time.perf_counter() + seconds
        for kind, month in self._schedule(ctx):
            if time.perf_counter() >= t_end and len(results) > pending:
                break
            r = timed(month, kind, self.month_rows, lambda m=month: self._load(ctx, m))
            results.append(r)
            if kind == "load" and r.error is None:
                self.loaded.append(month)
        return results

    def check(self, ctx: Ctx, results: list[OpResult]) -> None:
        """Every load and reload leaves the table equal to the batch
        sessionization of the loaded months; a reload that changed
        anything would show as a difference.  The reference's two WAU
        reports over the table are checked too.  A wrong table fails
        every op that wrote it."""
        csvs = month_csvs(self.raw, sorted(self.loaded))
        try:
            check_curated_table(ctx, self.spec, csvs)
            for key in ("user_id", "session_id"):
                check_wau(ctx, self.spec, key, csvs)
        except WrongOutput as exc:
            for r in results:
                r.error = r.error or f"WrongOutput: {exc}"
        self.checks_run += 3

    def extra_metrics(self, ctx: Ctx, results: list[OpResult]) -> dict:
        reloads = [r.seconds for r in results if r.error is None and r.kind == "reload"]
        in_bytes = sum(self.month_bytes[m] for m in self.loaded)
        return {
            "reload_p50_s": (statistics.median(reloads) if reloads else 0.0, "s", len(reloads)),
            "stored_bytes_per_input_byte": self.stored_ratio(ctx, in_bytes, len(self.loaded)),
        }


#: read-only lanes run through the registry (compositions of the layers)
#: with the tables each reads; the oracle is the lane's ``registry.oracles()``
#: SQL
REGISTRY_LANES = {
    "q18_large_volume_customers": ("customer", "orders", "lineitem"),
    "asof_last_signup": ("events",),
}
#: curation lanes (``ext``): near-dup detection, ANN search, image decode
EXT_LANES = {
    "dedup_minhash_lsh": ("documents",),
    "embed_ivf_topk": ("embeddings",),
    "multimodal_decode_png": ("documents",),
}


class OlapMix(Workload):
    """The read path: the same tables and plans on every pass."""

    name = "olap_mix"

    def generate(self, ctx: Ctx) -> dict:
        self.sf = os.path.join(ctx.work, "sf")
        self.raw = os.path.join(ctx.work, "raw")
        self.stream_files = gen.stream_event_files(
            os.path.join(ctx.work, "stream_gen"), ctx.seed, 24, ctx.size["stream_rows"]
        )
        months = [CLICK_FIRST_MONTH]
        self.months = months
        self.csv_bytes = gen.clickstream_months(
            self.raw, ctx.seed, months, ctx.size["rows_per_month"] // 2, ctx.size["users"]
        )
        self.rows = gen.sf_tables(self.sf, ctx.seed, ctx.size["sf"])
        self.rows["curated"] = len(months) * (ctx.size["rows_per_month"] // 2)
        self.rows["stream"] = ctx.size["stream_rows"]
        return {"csv_bytes": self.csv_bytes, **{f"rows.{k}": v for k, v in self.rows.items()}}

    def setup(self, ctx: Ctx, cycle: int) -> None:
        from sparkgraft.io.readers import TABLES, read_table
        from sparkgraft.pipelines import user_activity as ua

        self.spec = replace(ua.USER_ACTIVITY, name=f"user_activity_setup{cycle}")
        with ctx.tracer.span("pipelines", "load_months"):
            ua.load_months(ctx.spark, self.raw, self.months, self.spec)
        for t in TABLES:
            read_table(ctx.spark, self.sf, t)
        self.stream_dir = os.path.join(ctx.work, f"stream{cycle}")
        self.stream_next = 0

    # --- ops -------------------------------------------------------------

    def _collect(self, ctx: Ctx, layer: str, fn: str, df):
        with ctx.tracer.span(layer, fn, "exec"):
            return df.toPandas()

    def _read(self, ctx: Ctx, name: str):
        from sparkgraft.io.readers import read_table

        with ctx.tracer.span("io", "read_table", "build"):
            return read_table(ctx.spark, self.sf, name)

    def _q1(self, ctx: Ctx):
        from sparkgraft.queries import tpch

        li = self._read(ctx, "lineitem")
        with ctx.tracer.span("queries", "q1_pricing_summary", "build"):
            df = tpch.q1_pricing_summary(li)
        return self._collect(ctx, "queries", "q1_pricing_summary", df)

    def _user_wau(self, ctx: Ctx):
        from sparkgraft.queries import wau

        ev = self._read(ctx, "events")
        with ctx.tracer.span("queries", "user_wau", "build"):
            df = wau.user_wau(ev)
        return self._collect(ctx, "queries", "user_wau", df)

    def _sessionize(self, ctx: Ctx):
        from sparkgraft.ops.sessionize import sessionize

        ev = self._read(ctx, "events")
        with ctx.tracer.span("ops", "sessionize", "build"):
            df = sessionize(ev, order_tiebreak=("event_id",)).select(
                "event_id", "user_id", "ts", "session_id"
            )
        return self._collect(ctx, "ops", "sessionize", df)

    def _lane(self, ctx: Ctx, layer: str, lane: str):
        from sparkgraft import registry

        with ctx.tracer.span(layer, lane, "build"):
            df = registry.queries()[lane](ctx.spark, self.sf)
        return self._collect(ctx, layer, lane, df)

    def _stream(self, ctx: Ctx):
        """One trigger of the stateful sessionizer: the query restarts from
        its checkpoint, reads the one new event file, and stops."""
        from sparkgraft.registry import _stream_state_partitions
        from sparkgraft.streaming.sessions import stateful_sessionize

        spark = ctx.spark
        src = os.path.join(self.stream_dir, "src")
        os.makedirs(src, exist_ok=True)
        f = self.stream_files[self.stream_next % len(self.stream_files)]
        shutil.copy(f, os.path.join(src, f"{self.stream_next:04d}-" + os.path.basename(f)))
        self.stream_next += 1
        out = os.path.join(self.stream_dir, "out")
        # the first start of a checkpoint is a query start, later ones restarts
        start = "query_start" if self.stream_next == 1 else "restart"
        with ctx.tracer.span("streaming", "stateful_sessionize"), _stream_state_partitions(spark):
            # the state store's partition count is the engine's own choice
            # for its one-shot streams (registry._stream_state_partitions)
            events = (
                spark.readStream.schema("user_id bigint, ts timestamp_ntz")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            with ctx.tracer.span("streaming", start):
                q = (
                    stateful_sessionize(events)
                    .writeStream.foreachBatch(lambda df, _id: df.write.mode("append").parquet(out))
                    .option("checkpointLocation", os.path.join(self.stream_dir, "ckpt"))
                    .trigger(availableNow=True)
                    .start()
                )
            ctx.tracer.alias(str(q.runId))
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("stream trigger did not finish in 120 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:300])
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(progress) != 1:
            raise WrongOutput(f"expected one micro-batch, got {len(progress)}")
        return {"trigger_ms": progress[0]["durationMs"]["triggerExecution"]}

    def ops(self) -> list[tuple[str, str, int, Callable[[Ctx], Any]]]:
        """``(name, kind, input rows, fn)`` of one pass."""
        rows = self.rows
        ops = [
            ("wau_user_sql", "catalog", rows["curated"],
             lambda c: wau_sql(c, self.spec, "user_id")),
            ("wau_session_sql", "catalog", rows["curated"],
             lambda c: wau_sql(c, self.spec, "session_id")),
            ("q1_pricing_summary", "queries", rows["lineitem"], self._q1),
            ("wau_user", "queries", rows["events"], self._user_wau),
            ("sessionize_ids", "ops", rows["events"], self._sessionize),
        ]
        for kind, lanes in (("registry", REGISTRY_LANES), ("ext", EXT_LANES)):
            ops += [
                (lane, kind, sum(rows[t] for t in tables),
                 lambda c, k=kind, n=lane: self._lane(c, k, n))
                for lane, tables in lanes.items()
            ]
        ops.append(("stream_trigger", "streaming", rows["stream"], self._stream))
        return ops

    def warmup(self, ctx: Ctx) -> None:
        for name, kind, rows, fn in self.ops():
            r = timed(name, kind, rows, lambda f=fn: f(ctx))
            if r.error is not None:
                print(f"perfbench: warm-up {r.name} failed: {r.error}", flush=True)

    def run(self, ctx: Ctx, seconds: float) -> list[OpResult]:
        """Whole passes over the op list, each in a seeded order, until the
        run has lasted ``seconds``: every pass holds the same ops, so the
        medians do not depend on where the clock stopped."""
        results: list[OpResult] = []
        t_end = time.perf_counter() + seconds
        ops = self.ops()
        while not results or time.perf_counter() < t_end:
            order = list(ops)
            ctx.rng.shuffle(order)
            for name, kind, rows, fn in order:
                results.append(timed(name, kind, rows, lambda f=fn: f(ctx)))
        return results

    def check(self, ctx: Ctx, results: list[OpResult]) -> None:
        from sparkgraft import registry
        from tests.oracle import run_oracle

        oracles = registry.oracles()
        want: dict[str, Any] = {}
        con = duckdb.connect()
        csvs = month_csvs(self.raw, self.months)
        table_sql = batch_sessionized_sql(csvs)
        try:
            check_curated_table(ctx, self.spec, csvs)
        except WrongOutput as exc:
            for r in results:
                if r.kind == "catalog":
                    r.error = r.error or f"WrongOutput: curated table: {exc}"
        stream_ok = self._check_stream(ctx)
        self.checks_run += 2
        for r in results:
            if r.error is not None:
                continue
            if r.kind == "streaming":
                if not stream_ok:
                    r.error = "WrongOutput: stream session ids differ from batch"
                continue
            if r.name not in want:
                if r.kind == "catalog":
                    from sparkgraft.pipelines import user_activity as ua

                    key = "user_id" if r.name == "wau_user_sql" else "session_id"
                    sql = ua.wau_sql(key).replace("{TABLE}", f"({table_sql})")
                    want[r.name] = con.execute(sql).df()
                else:
                    want[r.name] = run_oracle(oracles[r.name], self.sf)
            try:
                check_parity(r.output, want[r.name])
            except WrongOutput as exc:
                r.error = f"WrongOutput: {exc}"
            r.output = None
            self.checks_run += 1

    def _check_stream(self, ctx: Ctx) -> bool:
        """Stream session ids over every file it read equal batch
        ``ops.sessionize`` ids over the same files."""
        from pyspark.sql import functions as F

        from sparkgraft.ops.sessionize import sessionize

        spark = ctx.spark
        src = os.path.join(self.stream_dir, "src")
        got = (
            spark.read.parquet(os.path.join(self.stream_dir, "out"))
            .select("user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "session_id")
            .toPandas()
        )
        batch = sessionize(spark.read.parquet(src)).select("user_id", "ts", "session_id")
        try:
            check_parity(got, batch.toPandas())
        except WrongOutput as exc:
            print(f"perfbench: stream check failed: {exc}", flush=True)
            return False
        return True

    def extra_metrics(self, ctx: Ctx, results: list[OpResult]) -> dict:
        trig = [r.output["trigger_ms"] / 1e3 for r in results if r.kind == "streaming" and r.output]
        return {
            "microbatch_p50_s": (statistics.median(trig) if trig else 0.0, "s", len(trig)),
            "stored_bytes_per_input_byte": self.stored_ratio(ctx, self.csv_bytes, len(self.months)),
        }


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (EtlBackfill, OlapMix)}
