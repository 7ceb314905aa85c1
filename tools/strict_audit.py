"""Strict bitwise Spark <-> DuckDB audit over the query registry.

The local parity suite (`tests/oracle.assert_parity`) allows a 1e-9
relative tolerance on floats; the round driver's value hash does NOT —
it hashes the exact bytes.  Rounds 4–5 therefore ran an ad-hoc
"doubles compared by int64 bit pattern" sweep before each freeze to
prove every oracle-backed query is BIT-exact, not merely close
(COVERAGE.md "Strict full-registry audit").  This tool checks that
sweep in as a first-class command so it stops being re-derived every
round.

Comparison contract (replica of the driver's hash, made diagnosable):
  - column sets must match; rows sorted by all columns, columns by name
  - float64 columns compare by int64 bit pattern (numpy .view); the
    only concession is NaN==NaN (the driver's to-python conversion
    collapses NaN payloads before hashing)
  - everything else compares exactly (ints, strings, dates, bools)

Digest mode (`--digest name1,name2`): pair lanes on duplicated rigs emit
relations QUADRATIC in the duplication factor (10x twins -> ~100x pairs;
`dedup_simhash_pairs` emits ~280M rows there) — no driver, here or on a
real cluster, should collect that to compare it.  For the named queries
both engines instead fold their OWN relation into an order-independent
digest (count + two independent sums of 60-bit md5 prefixes over a
canonical row string) and only the three scalars cross the wire.  The
canonical string fixes column order (sorted by name), a 0x1f separator,
an explicit NULL sentinel, and explicit per-type formatting so the two
engines render identical bytes.  DOUBLE columns are digestable under a
documented PRECONDITION: the value must be a ``round(x, 6)`` product
(the pair lanes' similarity columns all are) — such a value is within
~1 ulp of a 6-decimal point, so re-casting to DECIMAL(38,6) recovers
the identical decimal on both engines (an exact cast TIE would need the
double to sit 5e-7 from a 6-decimal point; a round-6 product sits
~1e-18 away), and the decimal's string form renders byte-identically
(verified: trailing-zero scale, -0.0 -> 0.000000, HALF_UP==HALF_EVEN
off-tie).  Arbitrary doubles / float32 / decimal stay rejected.
This is the audit design that survives 100 TB: the comparison cost
stays inside the engines, at scan+agg cost, with O(1) driver traffic.

Digest is the DEFAULT at-scale design, not an opt-in: ``--digest pairs``
expands to the known quadratic-output lanes (PAIR_LANES), and any other
lane whose collect aborts on the ``--max-result-size`` guard is
automatically retried in digest mode when its schema supports it
(reported under "auto_digest" so the artifact shows which lanes never
crossed the wire).

Usage:
    python tools/strict_audit.py                          # window, sf0.001
    python tools/strict_audit.py --queries all --sf-dir /root/testdata/sf0.01
    python tools/strict_audit.py --queries q7_volume_shipping,sessionize_hotkey \
        --sf-dir /root/testdata/sf0.1 --cpus 16
    python tools/strict_audit.py --queries dedup_simhash_pairs \
        --digest dedup_simhash_pairs --sf-dir .scale_cache/sf0.1x10
Prints one JSON line: {"sf_dir": ..., "n": N, "exact": K, "failures": {...}}
and exits non-zero if any query is not bit-exact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO]

#: lanes whose OUTPUT is quadratic in a duplication rig's twin factor —
#: the relations no driver should ever collect at scale.  ``--digest
#: pairs`` expands to this set (intersected with the selection) so rig
#: invocations don't hand-maintain the list.
PAIR_LANES = frozenset(
    {
        "dedup_simhash_pairs",
        "dedup_minhash_lsh",
        "dedup_minhash_lsh_twins",
        "dedup_ngram_jaccard",
        "dedup_jaccard_prefix",
        "corpus_chunk_overlap",
        "ml_minhash_pairs",
    }
)


def _bit_compare(a_pdf, b_pdf) -> list[str]:
    """Return human-readable mismatch descriptions (empty == bit-exact)."""
    import numpy as np

    from tests.oracle import _canon, _is_nan

    errs: list[str] = []
    if sorted(a_pdf.columns) != sorted(b_pdf.columns):
        return [f"columns spark={sorted(a_pdf.columns)} oracle={sorted(b_pdf.columns)}"]
    if len(a_pdf) != len(b_pdf):
        return [f"rows spark={len(a_pdf)} oracle={len(b_pdf)}"]
    a, b = _canon(a_pdf), _canon(b_pdf)
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" and bv.dtype.kind == "f":
            ab = np.ascontiguousarray(av.to_numpy(dtype="float64")).view("int64")
            bb = np.ascontiguousarray(bv.to_numpy(dtype="float64")).view("int64")
            nan_both = np.isnan(av.to_numpy(dtype="float64")) & np.isnan(
                bv.to_numpy(dtype="float64")
            )
            bad = np.nonzero((ab != bb) & ~nan_both)[0]
            for i in bad[:3]:
                errs.append(
                    f"col={col} row={int(i)}: spark={av.iloc[int(i)]!r} "
                    f"({int(ab[int(i)]):#x}) oracle={bv.iloc[int(i)]!r} "
                    f"({int(bb[int(i)]):#x})"
                )
            if len(bad) > 3:
                errs.append(f"col={col}: +{len(bad) - 3} more bit mismatches")
        else:
            for i, (x, y) in enumerate(zip(av.tolist(), bv.tolist())):
                if _is_nan(x) and _is_nan(y):
                    continue
                if isinstance(x, float) and isinstance(y, float):
                    import struct

                    if struct.pack("<d", x) != struct.pack("<d", y):
                        errs.append(f"col={col} row={i}: spark={x!r} oracle={y!r}")
                elif x != y:
                    errs.append(f"col={col} row={i}: spark={x!r} oracle={y!r}")
                if len(errs) >= 4:
                    errs.append(f"col={col}: truncated")
                    return errs
    return errs


_HEX = "0123456789abcdef"


def _duck_hex15(h_expr: str, start: int) -> str:
    """HUGEINT value of a 15-hex-digit substring of ``h_expr`` (1-based
    ``start``), built as a literal-weighted digit polynomial — DuckDB has
    no hex-string-to-integer cast, but 15 digits (60 bits) summed with
    exact HUGEINT literals needs none."""
    terms = [
        f"(strpos('{_HEX}', substr({h_expr}, {start + j}, 1)) - 1)::HUGEINT"
        f" * {16 ** (14 - j)}::HUGEINT"
        for j in range(15)
    ]
    return "(" + " + ".join(terms) + ")"


def _spark_canon_expr(field):
    """Engine-portable, INJECTIVE string rendering of one Spark column
    (None if the type has no portable text form).  NULL renders as 'n',
    values as 'v' + text; string values additionally escape the 0x1f
    column separator (0x1e doubles itself, 0x1f becomes 0x1e 's') so no
    crafted value can mimic a column boundary or the NULL marker."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    c = F.col(field.name)
    t = field.dataType
    if isinstance(t, T.StringType):
        s = F.replace(
            F.replace(c, F.lit("\x1e"), F.lit("\x1e\x1e")),
            F.lit("\x1f"),
            F.lit("\x1es"),
        )
    elif isinstance(
        t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType, T.DateType)
    ):
        s = c.cast("string")
    elif isinstance(t, T.TimestampNTZType):
        s = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    elif isinstance(t, T.DoubleType):
        # PRECONDITION (module docstring): the column is a round(x, 6)
        # product, so the DECIMAL(38,6) re-cast is tie-free and renders
        # byte-identically on both engines.  Specials made explicit so
        # NaN/inf never collide with the NULL marker.
        s = (
            F.when(F.isnan(c), F.lit("nan"))
            .when(c == F.lit(float("inf")), F.lit("inf"))
            .when(c == F.lit(float("-inf")), F.lit("-inf"))
            .otherwise(c.cast("decimal(38,6)").cast("string"))
        )
    else:
        return None
    return F.when(c.isNull(), F.lit("n")).otherwise(F.concat(F.lit("v"), s))


def _duck_canon_expr(name: str, duck_type: str):
    base = duck_type.upper().split("(")[0]
    q = f'"{name}"'
    if base == "VARCHAR":
        s = (
            f"replace(replace({q}, chr(30), chr(30) || chr(30)),"
            f" chr(31), chr(30) || 's')"
        )
    elif base in {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                  "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
                  "BOOLEAN", "DATE"}:
        s = f"CAST({q} AS VARCHAR)"
    elif base in {"TIMESTAMP", "TIMESTAMP_NS", "TIMESTAMP_MS", "TIMESTAMP_S"}:
        s = f"strftime({q}::TIMESTAMP, '%Y-%m-%d %H:%M:%S.%f')"
    elif base == "DOUBLE":
        # round(x, 6) precondition — see _spark_canon_expr / module docstring
        s = (
            f"CASE WHEN isnan({q}) THEN 'nan'"
            f" WHEN {q} = 'infinity'::DOUBLE THEN 'inf'"
            f" WHEN {q} = '-infinity'::DOUBLE THEN '-inf'"
            f" ELSE CAST(CAST({q} AS DECIMAL(38,6)) AS VARCHAR) END"
        )
    else:
        return None
    return f"CASE WHEN {q} IS NULL THEN 'n' ELSE 'v' || {s} END"


def digest_spark(df):
    """(count, sum60a, sum60b) over the canonical row strings — computed
    entirely engine-side; only three scalars reach the driver."""
    from pyspark.sql import functions as F

    exprs = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        e = _spark_canon_expr(field)
        if e is None:
            raise ValueError(
                f"digest unsupported for column {field.name}: {field.dataType}"
            )
        exprs.append(e)
    h = F.md5(F.concat_ws("\x1f", *exprs))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)")).alias("d1"),
        F.sum(F.conv(F.substring(h, 17, 15), 16, 10).cast("decimal(38,0)")).alias("d2"),
    ).collect()[0]
    return int(row.n), int(row.d1 or 0), int(row.d2 or 0)


def digest_oracle(sql: str, sf_dir: str):
    """Same three scalars from DuckDB, over the oracle SQL's relation."""
    from tests.oracle import run_oracle

    desc = run_oracle(f"DESCRIBE SELECT * FROM ({sql}) __t", sf_dir)
    cols = sorted(zip(desc["column_name"], desc["column_type"]), key=lambda x: x[0])
    exprs = []
    for name, typ in cols:
        e = _duck_canon_expr(name, typ)
        if e is None:
            raise ValueError(f"digest unsupported for column {name}: {typ}")
        exprs.append(e)
    wrapped = (
        # sums cast to VARCHAR: pandas renders HUGEINT as float64, which
        # silently rounds >2^53 digests — round-trip through text instead
        "SELECT count(*) AS n, "
        f"CAST(sum({_duck_hex15('h', 1)}) AS VARCHAR) AS d1, "
        f"CAST(sum({_duck_hex15('h', 17)}) AS VARCHAR) AS d2 "
        f"FROM (SELECT md5(concat_ws(chr(31), {', '.join(exprs)})) AS h "
        f"FROM ({sql}) __t) __h"
    )
    out = run_oracle(wrapped, sf_dir)
    n, d1, d2 = out.iloc[0]["n"], out.iloc[0]["d1"], out.iloc[0]["d2"]
    return int(n), int(d1) if d1 is not None else 0, int(d2) if d2 is not None else 0


def _digest_compare(spark_df, oracle_sql: str, sf_dir: str) -> list[str]:
    s, o = digest_spark(spark_df), digest_oracle(oracle_sql, sf_dir)
    if s[0] != o[0]:
        return [f"rows spark={s[0]} oracle={o[0]}"]
    if s[1:] != o[1:]:
        return [f"digest spark={s[1:]} oracle={o[1:]} (n={s[0]})"]
    return []


def _is_result_size_abort(exc: Exception) -> bool:
    """True iff ``exc`` is the driver result-size guard tripping — the one
    failure class the auto-digest retry exists for.  Match the Spark error
    condition when the exception carries one, else the full canonical
    message phrase; a bare 'maxResultSize' substring is NOT enough (an
    unrelated error that merely mentions the conf key must not silently
    flip the lane into digest mode and mask itself)."""
    get_cond = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None
    )
    if callable(get_cond):
        try:
            cond = get_cond() or ""
        except Exception:
            cond = ""
        if "MAX_RESULT_SIZE" in cond.upper():
            return True
    return "bigger than spark.driver.maxResultSize" in str(exc)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument(
        "--queries",
        default="window",
        help="'window' (DRIVER_WINDOW), 'all' (every oracle-backed query), "
        "or a comma-separated name list",
    )
    ap.add_argument(
        "--cpus",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))),
    )
    ap.add_argument("--driver-mem", default=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    ap.add_argument("--out", default="", help="optional JSON artifact path")
    ap.add_argument(
        "--digest",
        default="",
        help="comma-separated query names to compare via in-engine digest "
        "(for relations too large to collect); 'pairs' expands to the "
        "known quadratic-output lanes (PAIR_LANES); others still "
        "bit-compare",
    )
    ap.add_argument(
        "--max-result-size",
        default="4g",
        help="spark.driver.maxResultSize for the collect-compare lanes — "
        "the driver-OOM guard.  A lane that trips it is automatically "
        "retried in digest mode when its schema supports it; pass 0 only "
        "when a non-digestable lane on a duplicated rig genuinely needs "
        "an unbounded collect",
    )
    args = ap.parse_args()
    digest_names = {n.strip() for n in args.digest.split(",") if n.strip()}

    from pyspark.sql import SparkSession

    from sparkgraft import registry
    from tests.oracle import run_oracle

    # resolve + validate the selection BEFORE paying JVM startup: a typo
    # should be a two-second argparse error, not a crashed audit
    qs, oracles = registry.queries(), registry.oracles()
    if args.queries == "window":
        names = [n for n in registry.DRIVER_WINDOW if oracles.get(n)]
    elif args.queries == "all":
        names = [n for n in qs if oracles.get(n)]
    else:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}", file=sys.stderr)
            return 2
    if "pairs" in digest_names:
        digest_names = (digest_names - {"pairs"}) | (PAIR_LANES & set(names))
    # a --digest name that doesn't hit a selected query would SILENTLY fall
    # back to a full collect — on the very relations digest mode exists for,
    # that means either a driver-heap OOM or a guard abort, so reject it
    stray = digest_names - set(names)
    if stray:
        print(
            f"--digest names not in the selected query set: {sorted(stray)}",
            file=sys.stderr,
        )
        return 2

    # vanilla session, like the driver (read_table sets UTC/nanos configs
    # itself); driver memory raised only when the caller asks (10x replicas)
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        # the DOUBLE canonicalization (decimal(38,6) re-cast) relies on ANSI
        # to fail LOUD if a finite value ever overflows the decimal range; in
        # a non-ANSI session the cast yields NULL and concat_ws silently
        # drops the column from the row string.  ANSI is the Spark 4 default
        # — pin it so a session-default drift can't corrupt the encoding.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", args.driver_mem)
        # digest lanes never collect; collect-compare lanes keep the
        # clean-abort guard (default 4g) instead of an unguarded driver
        # heap — a tripped guard auto-retries in digest mode below
        .config("spark.driver.maxResultSize", args.max_result_size)
        .appName("sparkgraft-strict-audit")
        .getOrCreate()
    )

    failures: dict[str, list[str]] = {}
    auto_digest: list[str] = []
    for i, name in enumerate(names):
        label = "DIGEST-EXACT" if name in digest_names else "BIT-EXACT"
        try:
            if name in digest_names:
                errs = _digest_compare(
                    qs[name](spark, args.sf_dir), oracles[name], args.sf_dir
                )
            else:
                try:
                    spdf = qs[name](spark, args.sf_dir).toPandas()
                    opdf = run_oracle(oracles[name], args.sf_dir)
                    errs = _bit_compare(spdf, opdf)
                except Exception as exc:
                    # the maxResultSize guard tripping means "too big to
                    # collect" — exactly what digest mode is for; retry
                    # in-engine before reporting (re-raise anything else,
                    # and re-raise again if the schema can't digest)
                    if not _is_result_size_abort(exc):
                        raise
                    print(
                        f"# {name}: collect tripped the result-size guard "
                        f"({type(exc).__name__}: {str(exc)[:200]}) — "
                        "retrying in digest mode",
                        file=sys.stderr,
                    )
                    try:
                        errs = _digest_compare(
                            qs[name](spark, args.sf_dir), oracles[name], args.sf_dir
                        )
                        auto_digest.append(name)
                        label = "AUTO-DIGEST-EXACT"
                    except ValueError:
                        raise exc from None
        except Exception as exc:  # keep auditing; report the lane
            errs = [f"EXC {type(exc).__name__}: {exc}"[:500]]
        if errs:
            failures[name] = errs
        print(
            f"# [{i + 1}/{len(names)}] {name}: "
            + (label if not errs else f"FAIL {errs[0]}"),
            file=sys.stderr,
        )
    payload = {
        "sf_dir": args.sf_dir,
        "n": len(names),
        "exact": len(names) - len(failures),
        "failures": failures,
    }
    if digest_names or auto_digest:
        payload["digest"] = sorted((digest_names & set(names)) | set(auto_digest))
    if auto_digest:
        payload["auto_digest"] = sorted(auto_digest)
    print(json.dumps(payload))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
