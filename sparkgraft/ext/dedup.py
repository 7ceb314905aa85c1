"""Deduplication operators for LLM-data pipelines.

Five dedup families, all declarative DataFrame ops (no Python UDFs):

- exact            hash-groupBy on raw text                  (one shuffle)
- exact-normalized groupBy on canonical fingerprint          (one shuffle)
- n-gram Jaccard   shingle-blocked candidate join + exact
                   Jaccard from shared-shingle counts
- MinHash + LSH    k=16 signature, banded bucketing, verify
                   candidates with true shingle Jaccard
- SimHash          16-bit signature via explode+groupBy,
                   Hamming-close pairs

Hashing: engine-portable ``hash64`` = first 15 hex digits of md5 as int —
identical in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), so every stage is
oracle-checkable. (Spark's builtin murmur `hash()` would be faster but is
not reproducible outside Spark; swap via the expression if parity is not
needed.)

Scale posture (100 TB):
- exact: shuffle on a 64-bit text hash, not the text — tiny exchange.
- shingle blocking: hot shingles (stopword trigrams) explode the candidate
  space; ``max_doc_freq`` drops shingles appearing in more than N docs
  (standard df-cut). MinHash banding bounds candidates regardless.
- simhash pairing bands the signature bits (Hamming-space LSH with exact
  recall by pigeonhole) — an equi-join, never an all-pairs product.

Note Spark's ``sequence(a, b)`` DESCENDS when a > b (it never returns
empty), so every shingle expression guards the size(tokens) < n case —
mirrored in the oracle SQL, where DuckDB's generate_series would instead
return empty.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from sparkgraft.ext.text import normalize_text, tokens

#: engine-portable 60-bit hash of a string expression (SQL fragment)
HASH64_SQL = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"

#: MinHash affine permutations over Z_p (p = 2^31-1, Mersenne prime):
#: perm_i(h) = (A[i]*h + B[i]) mod p. One md5 per shingle total; the 16
#: permutations are integer mul/add — exact and identical in any engine.
MINHASH_P = 2_147_483_647
_rng = __import__("numpy").random.RandomState(7)
MINHASH_A: list[int] = [int(a) for a in _rng.randint(1, MINHASH_P, size=64)]
MINHASH_B: list[int] = [int(b) for b in _rng.randint(0, MINHASH_P, size=64)]


def shingle_expr(tok_col: str = "__toks", n: int = 3) -> str:
    """SQL fragment: word n-gram shingles of a token-array column.

    Docs shorter than n tokens (but non-empty) yield one shingle (the
    whole doc).  Docs with ZERO tokens (empty/whitespace-only text) yield
    ZERO shingles and therefore drop out of every near-dup lane — the
    deliberate policy: empty documents carry no shingle signal and belong
    to exact dedup; pairing N of them as "near-duplicates" is an N²
    blowup of no value at corpus scale.  (The previous degenerate ''
    shingle did exactly that — and diverged from the DuckDB oracle, whose
    ``array_to_string([], ' ')`` is NULL, not ''.)  NULL token arrays
    (NULL text) also produce NULL -> no shingles, same on both engines.
    """
    parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
    return (
        f"CASE WHEN size({tok_col}) = 0 THEN array()"
        f" WHEN size({tok_col}) < {n}"
        f" THEN array(concat_ws(' ', {tok_col}))"
        f" ELSE transform(sequence(1, size({tok_col}) - {n - 1}),"
        f" i -> concat_ws(' ', {parts})) END"
    )


def exact_dups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one row per distinct text with the kept (min) id and the
    duplicate count. Shuffles on a 64-bit hash of the text, not the text."""
    h = F.expr(HASH64_SQL.format(x=col))
    return (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def normalized_dup_groups(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Dedup groups on the canonical fingerprint (case/whitespace-insensitive):
    kept id + copy count per group, all groups (n_copies==1 are uniques)."""
    return (
        df.select(F.col(id_col), normalize_text(col).alias("__norm"))
        .groupBy("__norm")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def doc_shingles(df: DataFrame, col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(doc, shingle) DISTINCT pairs — the shingle-set relation."""
    from sparkgraft.ops.relational import fan_out

    df = fan_out(df)  # tokenize+explode map side otherwise inherits the scan's split count
    return (
        df.select(F.col(id_col).alias("doc"), tokens(col).alias("__toks"))
        .select("doc", F.explode(F.expr(shingle_expr("__toks", n))).alias("sh"))
        .distinct()
    )


def _jaccard_from_counts(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter) + per-doc set sizes -> thresholded Jaccard.

    Integer counts only; the final double division is bit-identical across
    engines."""
    return (
        inter.join(sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_prefix_candidates(
    ds: DataFrame,
    threshold: float,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ppjoin-style prefix-filtered candidate pairs — EXACT, not a cut.

    Prefix-filtering principle (SSJoin/ppjoin, public literature): order
    each doc's shingles by a global total order (document frequency asc,
    shingle asc — rarest first, the standard fan-out-minimizing order).
    If jaccard(x, y) >= t then their overlap o >= ceil(t*|x|), and the
    globally-smallest SHARED shingle must sit within the first
    ``|x| - ceil(t*|x|) + 1`` positions of x's order (else all shared
    shingles live in the size-(ceil(t*|x|)-1) suffix — too few), and
    symmetrically for y. So joining only PREFIX rows loses no pair.

    The prefix uses t' = t - 1e-6 (a hair looser) because downstream
    thresholds round(j, 6) >= t: a true j just below t can round up to t,
    and those pairs must still surface — exactness here is vs the rounded
    contract, not just the real-valued one.

    df-based pruning composes: a shared shingle has df >= 2 by definition,
    so df=1 prefix rows are dropped exactly; ``max_doc_freq`` additionally
    drops hot shingles (that cut IS approximate, off by default).

    The POSITIONAL filter (the "pp" of ppjoin) then prunes candidates
    before the expensive verification joins: for the rarest shared prefix
    shingle, sitting at ranks (i, j) of the two docs' orders, the true
    overlap is at most ``1 + min(|x|-i, |y|-j)`` (everything else shared
    must live in both suffixes). jaccard >= t forces overlap >=
    ``ceil(t'*(|x|+|y|)/(1+t'))``, so pairs whose best positional bound
    misses that are EXACTLY refuted — no verification needed. Same
    shuffle as the former plain ``.distinct()`` (a groupBy on the pair),
    strictly fewer surviving rows.

    Output: (doc_a, doc_b) distinct, doc_a < doc_b.
    """
    from pyspark.sql import Window

    freq = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    keep = F.col("df") >= 2
    if max_doc_freq is not None:
        keep = keep & (F.col("df") <= max_doc_freq)
    wdoc = Window.partitionBy("doc")
    worder = wdoc.orderBy("df", "sh")
    tq = threshold - 1e-6
    prefix_len = F.col("__n") - F.ceil(F.lit(tq) * F.col("__n")) + 1
    prefix = (
        ds.join(freq, "sh")
        .withColumn("__n", F.count(F.lit(1)).over(wdoc))
        .withColumn("__rk", F.row_number().over(worder))
        .where((F.col("__rk") <= prefix_len) & keep)
        .select("doc", "sh", "__rk", "__n")
    )
    return (
        prefix.select(
            F.col("doc").alias("doc_a"),
            "sh",
            F.col("__rk").alias("__rka"),
            F.col("__n").alias("__na"),
        )
        .join(
            prefix.select(
                F.col("doc").alias("doc_b"),
                "sh",
                F.col("__rk").alias("__rkb"),
                F.col("__n").alias("__nb"),
            ),
            "sh",
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.least(
                    F.col("__na") - F.col("__rka"), F.col("__nb") - F.col("__rkb")
                )
                + 1
            ).alias("__ub"),
            F.first("__na").alias("__na"),
            F.first("__nb").alias("__nb"),
        )
        .where(
            F.col("__ub")
            >= F.ceil(F.lit(tq) * (F.col("__na") + F.col("__nb")) / F.lit(1 + tq))
        )
        .select("doc_a", "doc_b")
    )


#: auto path selection: use prefix filtering when the plain blocking join
#: would emit more than this many candidate-pair rows PER shingle row
#: (pair_rows = sum_sh df*(df-1)/2; blowup = pair_rows / |ds|).  Measured:
#: the synthetic documents corpus sits at ~0.55 (plain join wins, 2.5 s vs
#: 5.2 s at sf0.1); a corpus where every doc shares boilerplate shingles
#: blows up to ~n_docs/2 and the plain join goes quadratic.
_JACCARD_BLOWUP_LIMIT = 8.0


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    prefix_filter: bool | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, blocked on shared shingles.

    ``shingles``: optional precomputed :func:`doc_shingles`(df, col, id_col,
    n) relation the CALLER already materialized (localCheckpoint) because
    another consumer needs it too (the Spark-ML audit lane feeds the same
    relation to ``ml_lsh.ml_minhash_pairs``) — the corpus is then tokenized
    once, not once per side.  Every quantity here depends only on the
    distinct (doc, sh) content, so the output is bit-identical.

    ``prefix_filter=None`` (default) AUTO-SELECTS from the measured shingle
    document-frequency tail: one tiny aggregate over the df relation
    computes the plain join's candidate-row blowup sum(df*(df-1)/2)/|ds|,
    and the prefix path is chosen when it exceeds ``_JACCARD_BLOWUP_LIMIT``
    — i.e. exactly when hot shingles (boilerplate, stopword n-grams) would
    make the plain self-join quadratic.  Both paths emit identical pairs,
    so auto-selection never changes results, only the plan.

    ``prefix_filter=False`` path: self-join ALL df>=2 shingle rows and
    count shared shingles directly — one stage, and the fastest shape when
    the shingle document-frequency distribution is light-tailed (measured:
    2.5 s vs 5.2 s for the prefix path at sf0.1, where candidates only
    shrink 2.8x).

    ``prefix_filter=True`` switches to ``jaccard_prefix_candidates`` (exact
    ppjoin prefix filtering — only each doc's ``(1-t)|x|+1`` rarest
    shingles enter the blocking self-join, losing no pair) followed by
    array_intersect verification of the candidates. The blocking input no
    longer scales with sum(df^2) over hot shingles, so this is the EXACT
    escape hatch for heavy-tailed corpora (boilerplate/stopword shingles)
    where the plain join goes quadratic — the cases the approximate
    ``max_doc_freq`` cut would otherwise have to handle. The two paths
    emit identical pairs for ANY (threshold, max_doc_freq) combination
    (pinned by test at three thresholds and with a df-cut).

    ``max_doc_freq`` is the approximate scale knob: drop shingles present
    in more than N docs before pairing (bounds hot-shingle fan-out; the
    dropped shingles still count toward set sizes, so Jaccard becomes a
    lower bound — standard df-cut trade-off, OFF by default for exactness).
    Both paths implement the SAME cut semantics: intersections count only
    kept shingles, union sizes stay full. Prefix filtering remains exact
    for this cut-Jaccard J': J' >= t implies the kept overlap o' >= t*|x|
    (since |y| >= o'), so at least one shared KEPT shingle sits inside the
    full-order prefix, and the prefix rows are filtered to kept shingles —
    the candidate join loses no J'-qualifying pair.

    df=1 pruning is always on and always exact: a frequency-1 shingle
    cannot contribute to any intersection; sizes still come from the full
    relation.
    """
    if shingles is not None and not {"doc", "sh"} <= set(shingles.columns):
        raise ValueError(f"shingles needs columns doc, sh; got {shingles.columns}")
    # Content-class canonicalization (round 6): Jaccard depends only on
    # text, so compute on one representative per distinct content and
    # expand back — bit-identical output, verify cost bounded by DISTINCT
    # contents (see _content_classes).  Exact ONLY without a df cut:
    # max_doc_freq counts document frequency over the FULL corpus, and
    # collapsing twins would change which shingles the cut drops — the
    # cut path keeps the per-document plan.
    members = rep_of_cls = None
    if max_doc_freq is None:
        members, rep_of_cls, df = _content_classes_if_duplicated(df, col, id_col)

    # every path reads the shingle relation several times (df stats, freq,
    # blocking/prefix legs, set sizes) — materialize the explode once
    # instead of re-tokenizing the corpus per leg. (On a real cluster with
    # executor churn, swap for reliable .checkpoint().)
    if shingles is not None:
        # caller-materialized relation; under content classes restrict to
        # representative docs — identical to doc_shingles(rep_docs)
        ds = shingles
        if members is not None:
            ds = shingles.join(
                rep_of_cls.select(F.col("rep").alias("doc")), "doc", "left_semi"
            ).localCheckpoint(eager=True)
    else:
        ds = doc_shingles(df, col, id_col, n).localCheckpoint(eager=True)
    sizes = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    def _maybe_expand(pairs: DataFrame) -> DataFrame:
        if members is None:
            return pairs
        return _expand_class_pairs(
            pairs,
            members,
            rep_of_cls,
            sizes.select(F.col("doc").alias("rep")),
            threshold,
        )
    if prefix_filter is None:
        stats = (
            ds.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pair_rows"),
                F.sum("df").alias("n_rows"),
            )
            .collect()[0]
        )
        blowup = (stats.pair_rows or 0.0) / max(stats.n_rows or 0, 1)
        prefix_filter = blowup > _JACCARD_BLOWUP_LIMIT
    if prefix_filter:
        cand = jaccard_prefix_candidates(ds, threshold, max_doc_freq)
        # Verify with per-doc shingle-set ARRAYS + array_intersect: one row
        # per candidate pair (no explode back through the shingle relation,
        # which would fan out |cand| x doc-size rows). Array size is the
        # doc's distinct-shingle count — bounded by doc length; chunk
        # pathological docs upstream if that ever isn't true.
        #
        # df-cut parity with the default path: intersect sets drop shingles
        # with df > max_doc_freq (a shared shingle always has df >= 2, so
        # the df>=2 side of the cut never changes the intersection), while
        # union sizes stay FULL — identical cut-Jaccard on both paths.
        if max_doc_freq is not None:
            freq_cut = (
                ds.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_doc_freq)
                .select("sh")
            )
            # corpus-derived set: NO broadcast hint (it grows with distinct
            # shingles — the hard hint would force a driver collect at scale;
            # AQE broadcasts it when it is actually small)
            vs = ds.join(freq_cut, "sh")
            # cut sets intersect; FULL sizes union (default-path semantics)
            doc_sets = vs.groupBy("doc").agg(F.collect_set("sh").alias("__shs"))
            verif = (
                cand.join(
                    doc_sets.select(F.col("doc").alias("doc_a"), F.col("__shs").alias("__sa")),
                    "doc_a",
                )
                .join(
                    doc_sets.select(F.col("doc").alias("doc_b"), F.col("__shs").alias("__sb")),
                    "doc_b",
                )
                .join(sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("__na")), "doc_a")
                .join(sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("__nb")), "doc_b")
            )
        else:
            # no cut: the arrays ARE the full sets, so their size is the
            # union term directly — no extra sizes joins
            doc_sets = ds.groupBy("doc").agg(F.collect_set("sh").alias("__shs"))
            verif = (
                cand.join(
                    doc_sets.select(F.col("doc").alias("doc_a"), F.col("__shs").alias("__sa")),
                    "doc_a",
                )
                .join(
                    doc_sets.select(F.col("doc").alias("doc_b"), F.col("__shs").alias("__sb")),
                    "doc_b",
                )
                .withColumn("__na", F.size("__sa"))
                .withColumn("__nb", F.size("__sb"))
            )
        return _maybe_expand(
            verif.withColumn("n_inter", F.size(F.array_intersect("__sa", "__sb")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_inter")
                    / (F.col("__na") + F.col("__nb") - F.col("n_inter")),
                    6,
                ),
            )
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    freq = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    keep = F.col("df") >= 2
    if max_doc_freq is not None:
        keep = keep & (F.col("df") <= max_doc_freq)
    # same rule: the df-filtered shingle set is corpus-derived — no hint
    blocked = ds.join(freq.where(keep).select("sh"), "sh")
    inter = (
        blocked.select(F.col("doc").alias("doc_a"), "sh")
        .join(blocked.select(F.col("doc").alias("doc_b"), "sh"), "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _maybe_expand(_jaccard_from_counts(inter, sizes, threshold))


def minhash_signatures(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", k: int = 16, n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature columns sig_0..sig_{k-1}.

    Base hash once per shingle (md5-derived, engine-portable), then k
    affine permutations over Z_p — min of each. Shingles are EXPLODED and
    the k mins run as one codegen'd partial-aggregating groupBy rather
    than per-row ``array_min(transform(...))``: Spark evaluates
    higher-order lambdas interpreted (one md5 call dispatch per element),
    while the exploded shape keeps md5 and the affine arithmetic inside
    whole-stage codegen with map-side combine — ~2x faster end-to-end.
    Duplicate shingles need no distinct: min is idempotent. Docs with no
    shingles (< n tokens) drop out, which cannot affect pair outputs.
    """
    tok = (
        df.select(F.col(id_col).alias("doc"), tokens(col).alias("__toks"))
        .select("doc", F.explode(F.expr(shingle_expr("__toks", n))).alias("sh"))
    )
    return minhash_signatures_from_shingles(tok, k)


def minhash_signatures_from_shingles(shingles: DataFrame, k: int = 16) -> DataFrame:
    """Signatures from an existing (doc, sh) relation — min is idempotent,
    so a DISTINCT shingle-set relation (:func:`doc_shingles`) yields
    BIT-IDENTICAL signatures to the raw exploded multiset; callers that
    already materialize the shingle relation for Jaccard verification
    (minhash_lsh_pairs) reuse it here instead of paying a second
    tokenize + shingle + md5 pass over the corpus."""
    tok = shingles.withColumn(
        "h", F.expr(f"({HASH64_SQL.format(x='sh')}) % {MINHASH_P}")
    )
    aggs = [
        F.min(F.expr(f"({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}")).alias(f"sig_{i}")
        for i in range(k)
    ]
    return tok.groupBy("doc").agg(*aggs)


def banded_signatures(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """(doc, band_idx, band_hash) — MinHash signatures folded into LSH band
    hashes, stacked long-form.  ONE definition of the banding layout: this
    relation IS the persisted-index format incremental probes match
    against, so :func:`minhash_lsh_pairs` (within-corpus) and
    :func:`incremental_minhash_pairs` (batch-vs-history) must agree on it
    byte-for-byte — a layout change here re-keys both sides together.
    """
    rows = k // bands
    sigs = minhash_signatures(df, col, id_col, k, n).localCheckpoint(eager=True)
    return _band_stack(sigs, k, bands)


def _band_stack(sigs: DataFrame, k: int, bands: int) -> DataFrame:
    """Fold sig_0..sig_{k-1} columns into the stacked band relation —
    shared tail of :func:`banded_signatures` and the shingle-reusing path
    in :func:`minhash_lsh_pairs`, so the banding layout stays defined in
    exactly one place."""
    rows = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(",", *[f"sig_{b * rows + r}" for r in range(rows)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc", *band_cols)
    return banded.selectExpr(
        "doc",
        f"stack({bands}, "
        + ", ".join(f"{b}, band_{b}" for b in range(bands))
        + ") AS (band_idx, band_hash)",
    )


#: engage content-class canonicalization when measured distinct-content
#: ratio drops below this — mostly-unique corpora skip the class
#: bookkeeping (~1.4-1.75x on the base lanes), duplicated ones dodge the
#: d^2 verify term.  Both paths emit identical relations, so the flip
#: never changes results — same contract as the ppjoin blowup auto-select.
_DUP_RATIO_LIMIT = 0.95


def _content_classes_if_duplicated(df: DataFrame, col: str, id_col: str):
    """(members, rep_of_cls, rep_docs) — or (None, None, df) when the
    corpus measures mostly-unique.  One single-pass scalar aggregate
    (approx_count_distinct over the content hash; ~2% error is plenty for
    a plan flip) decides; the 1-row collect follows the repo's
    scalar-stat plan-flip precedent."""
    stats = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.md5(F.col(col).cast("string"))).alias("d"),
    ).collect()[0]
    if stats.n == 0 or stats.d / stats.n >= _DUP_RATIO_LIMIT:
        return None, None, df
    return _content_classes(df, col, id_col)


def _content_classes(df: DataFrame, col: str, id_col: str):
    """(members, rep_of_cls, rep_docs) for content-class canonicalization.

    Near-dup relations that depend only on a document's TEXT (shingle
    Jaccard, MinHash) treat byte-identical documents as interchangeable:
    group them into md5 content classes, compute on one representative
    per class (min doc id — deterministic), expand results back.  This
    bounds pair-verification work by DISTINCT contents instead of
    documents — on a corpus where each document has d exact twins the
    per-document plans shuffled d^2 x more verify rows than needed
    (measured: 100x replication filled the local disk; canonicalized it
    runs at 1x verify cost plus an output-sized expansion).  Exact
    duplication at that rate is the norm in web-scale training corpora.
    """
    members = df.select(
        F.col(id_col).alias("doc"), F.md5(F.col(col).cast("string")).alias("cls")
    )
    rep_of_cls = members.groupBy("cls").agg(F.min("doc").alias("rep"))
    rep_docs = df.join(
        rep_of_cls.select(F.col("rep").alias(id_col)), id_col, "left_semi"
    )
    return members, rep_of_cls, rep_docs


def _expand_class_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    rep_of_cls: DataFrame,
    rep_has_shingles: DataFrame,
    threshold: float,
) -> DataFrame:
    """Expand class-level (doc_a, doc_b, jaccard) representative pairs to
    document pairs.  Cross-class pairs inherit the representative value —
    computed from the very same shingle counts any member pair would
    produce, so the output relation is bit-identical to the per-document
    formulation.  Within-class pairs carry jaccard exactly 1.0 =
    round(S/S, 6), emitted only for classes whose documents produce >= 1
    shingle (``rep_has_shingles``: 1-column ``rep`` relation) — docs
    below the shingle width never paired under the per-document plans.
    """
    r2c = rep_of_cls.select("rep", "cls")
    cls_pairs = (
        rep_pairs.join(
            r2c.select(F.col("rep").alias("doc_a"), F.col("cls").alias("cls_a")),
            "doc_a",
        )
        .join(
            r2c.select(F.col("rep").alias("doc_b"), F.col("cls").alias("cls_b")),
            "doc_b",
        )
        .select("cls_a", "cls_b", "jaccard")
    )
    cross = (
        cls_pairs.join(
            members.select(F.col("cls").alias("cls_a"), F.col("doc").alias("a")),
            "cls_a",
        )
        .join(
            members.select(F.col("cls").alias("cls_b"), F.col("doc").alias("b")),
            "cls_b",
        )
        .select(
            F.least("a", "b").alias("doc_a"),
            F.greatest("a", "b").alias("doc_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    eligible = members.join(
        r2c.join(rep_has_shingles, "rep", "left_semi").select("cls"), "cls"
    )
    within = (
        eligible.select("cls", F.col("doc").alias("a"))
        .join(eligible.select("cls", F.col("doc").alias("b")), "cls")
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.lit(1.0).cast("double").alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with true shingle Jaccard.

    Banding 16 hashes as 8 bands x 2 rows puts the LSH S-curve threshold at
    (1/b)^(1/r) ~= 0.35, comfortably under the 0.5 verify threshold: pairs
    at jaccard 0.7 are caught with p > 0.99.

    content classes -> signatures -> band hashes -> stack -> bucket
    self-join -> distinct candidates -> exact Jaccard -> threshold ->
    class expansion.  The bucket join replaces the all-pairs product:
    only same-band-hash docs ever meet, so the candidate set stays
    near-linear in corpus size at any scale.

    Content-class canonicalization (round 6, :func:`_content_classes` /
    :func:`_expand_class_pairs`, gated by the measured duplication ratio):
    on duplicated corpora LSH + verify runs on one representative per
    distinct text; the expansion back to document pairs is bit-identical
    to the per-document formulation, and the verify join's O(candidate
    pairs x shingles) intermediate is bounded by DISTINCT contents (the
    100x-replicated deep-decade lane went from a >35 GB disk-filling
    spill to 6 s).  Mostly-unique corpora skip the class bookkeeping.
    """
    members, rep_of_cls, rep_docs = _content_classes_if_duplicated(df, col, id_col)

    # ONE tokenize+shingle pass: the distinct shingle relation (needed for
    # the exact-Jaccard verify anyway) also feeds the signatures — min is
    # distinct-invariant, so the sigs are bit-identical to the fresh-pass
    # form while the corpus is tokenized and md5'd once instead of twice
    ds = doc_shingles(rep_docs, col, id_col, n).localCheckpoint(eager=True)
    # no checkpoint on the sigs: both bucket-join legs contain the IDENTICAL
    # agg subtree over the checkpointed ds, so exchange reuse computes it
    # once (measured: a second eager checkpoint here was ~1.2 s SLOWER than
    # letting ReusedExchange handle the self-join)
    sigs = minhash_signatures_from_shingles(ds, k)
    stacked = _band_stack(sigs, k, bands)
    cand = (
        stacked.select(F.col("doc").alias("doc_a"), "band_idx", "band_hash")
        .join(stacked.select(F.col("doc").alias("doc_b"), "band_idx", "band_hash"), ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sizes = ds.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(ds.select(F.col("doc").alias("doc_a"), "sh"), "doc_a")
        .join(ds.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .where(F.col("sh") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    rep_pairs = _jaccard_from_counts(inter, sizes, threshold)
    if members is None:
        return rep_pairs
    return _expand_class_pairs(
        rep_pairs,
        members,
        rep_of_cls,
        sizes.select(F.col("doc").alias("rep")),
        threshold,
    )


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 50,
    driver_max_pairs: int = 5_000_000,
) -> DataFrame:
    """Connected components of an undirected pair graph, to a FIXPOINT.

    Input: (doc_a, doc_b) edges. Output: (doc_id, cluster_id) for every
    node with >= 1 edge, cluster_id = min id reachable — exact on EVERY
    graph, any diameter (no round cap truncation).

    Adaptive execution, sized by the pair count (known cheaply because the
    pair relation must materialize anyway):

    - **<= driver_max_pairs** (the overwhelmingly common case — the dup
      graph is the *output* of blocking, ~near-dup count, orders of
      magnitude smaller than the corpus; 5M pairs ≈ 80 MB on the driver):
      collect and run union-find (min-root, path compression) in one pass.
      One Spark job for the pairs + one parallelize back — no per-round
      job/shuffle overhead.
    - **above it**: distributed min-label propagation accelerated with
      pointer doubling — each round (a) takes the min over neighbour
      labels (one hop) then (b) shortcuts label := label(label), which
      doubles the effective propagation distance, so convergence is
      O(log diameter) rounds, not O(diameter). Loops until the HOP step
      changes nothing: at that fixpoint the set of nodes holding the
      component min is adjacency-closed, hence equals the component
      (labels only ever decrease and never leave the component, so the
      fixpoint label IS the component min — same answer as union-find).
      ``max_rounds`` is a safety valve only: with doubling, 50 rounds
      covers diameter ~2^50; exceeding it raises instead of returning a
      silently-truncated answer.
    """
    spark = pairs.sparkSession
    # self-loops (a, a) carry no connectivity; drop them up-front so both
    # execution paths agree on the output node set (previously the driver
    # path silently dropped the node while the distributed path emitted
    # (x, x) — the answer depended on which side of driver_max_pairs the
    # input landed)
    pairs = (
        pairs.select("doc_a", "doc_b")
        .where(F.col("doc_a") != F.col("doc_b"))
        .persist()
    )
    id_type = pairs.schema["doc_a"].dataType
    out_schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
    )
    n_pairs = pairs.count()
    if n_pairs <= driver_max_pairs:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pairs.collect():
            ra, rb = find(r.doc_a), find(r.doc_b)
            if ra != rb:  # min root wins -> label IS the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        pairs.unpersist()
        # parent maps every unioned non-root node; roots appear only as values
        roots = {find(k) for k in list(parent)}
        rows = [(nd, find(nd)) for nd in sorted(set(parent) | roots)]
        return spark.createDataFrame(rows, out_schema)
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .union(pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    ).persist()
    converged = False
    for _ in range(max_rounds):
        # (a) one-hop: min over neighbour labels
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "d"), "d")
            .groupBy("s")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("s", "node")
        )
        hopped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least("label", F.coalesce("nmin", "label")).alias("label"),
                (F.coalesce("nmin", "label") < F.col("label")).alias("chg"),
            )
            .persist()
        )
        changed = hopped.agg(F.max("chg")).first()[0]
        if not changed:
            hopped.unpersist()
            converged = True
            break
        # (b) pointer doubling: label := label(label) — halves remaining
        # distance to the component min each round
        lab2 = hopped.alias("h2").select(
            F.col("h2.node").alias("label"), F.col("h2.label").alias("label2")
        )
        shortcut = (
            hopped.alias("h1")
            .select(F.col("h1.node").alias("node"), F.col("h1.label").alias("label"))
            .join(lab2, "label", "left")
            .select("node", F.least("label", F.coalesce("label2", "label")).alias("label"))
            # localCheckpoint TRUNCATES LINEAGE, not just caches: each round's
            # plan references the previous round's twice (the self-join), so
            # without truncation the logical plan grows ~4x per round and the
            # driver OOMs planning round ~15. eager=True materializes before
            # the parents are unpersisted. (On a real cluster with executor
            # churn, swap for reliable .checkpoint() + setCheckpointDir.)
            .localCheckpoint(eager=True)
        )
        labels.unpersist()
        hopped.unpersist()
        labels = shortcut
    if not converged:
        edges.unpersist()
        pairs.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds"
        )
    out = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    edges.unpersist()
    pairs.unpersist()
    return out


def dup_clusters(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    driver_max_pairs: int = 5_000_000,
) -> DataFrame:
    """Cluster dedup: connected components over the near-dup pair graph.

    Pairs (n-gram Jaccard >= threshold) form edges; the component label is
    the minimum doc id reachable. Output: one row per non-singleton node
    (doc_id, cluster_id); keep-policy = keep doc_id == cluster_id.
    Execution is ``connected_components`` (adaptive driver union-find /
    distributed pointer-doubling propagation, exact at any diameter).
    """
    pairs = ngram_jaccard_pairs(df, col, id_col, n, threshold).select("doc_a", "doc_b")
    return connected_components(pairs, driver_max_pairs=driver_max_pairs)


def simhash_signatures(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """SimHash signature: explode tokens, hash each, majority-vote per bit.

    Distributed-friendly: explode + one groupBy(doc) with ``bits`` integer
    sums (map-side partial agg), then recombine bits. Duplicate tokens vote
    multiple times (classic SimHash weighting by term frequency).

    ``bits`` must be <= 60: the engine-portable HASH64 is 15 hex digits =
    60 bits, so positions 60..63 of a "64-bit" simhash would be constant
    zero (every doc voting -1) — silently degrading band selectivity —
    and bit 63's recombine literal (1 << 63) doesn't fit BIGINT.
    """
    if not (1 <= bits <= 60):
        raise ValueError(f"bits must be in [1, 60] (HASH64 is 60-bit), got {bits}")
    from sparkgraft.ops.relational import fan_out

    df = fan_out(df)  # the explode+md5 map side otherwise runs on the scan's split count
    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(col)).alias("tok")).withColumn(
        "h", F.expr(HASH64_SQL.format(x="tok"))
    )
    votes = tok.groupBy("doc").agg(
        *[
            F.sum(F.expr(f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END")).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sim = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return votes.selectExpr("doc", f"{sim} AS simhash")


def _hamming_masks(bits: int, max_hamming: int) -> list[int]:
    """All XOR masks with 1..max_hamming of ``bits`` bits set."""
    from itertools import combinations

    masks = []
    for k in range(1, max_hamming + 1):
        for pos in combinations(range(bits), k):
            m = 0
            for p in pos:
                m |= 1 << p
            masks.append(m)
    return masks


#: switch simhash pairing to neighbor enumeration when the mask count is
#: affordable (16 bits / h<=3 -> 696 masks; 64 bits / h=3 -> 43k, banded)
_NEIGHBOR_MASK_LIMIT = 2048


def simhash_close_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    strategy: str = "auto",
) -> DataFrame:
    """Pairs of docs whose SimHash Hamming distance <= max_hamming.

    Two exact strategies, auto-selected on ``C(bits, <=max_hamming)`` AND
    the measured distinct-signature count (the neighbor explode is
    masks x distinct-sigs rows; past a fixed budget banded wins).
    ``strategy`` forces one for testing/tuning:

    **Neighbor enumeration** (narrow signatures, e.g. 16-bit/h<=3 -> 696
    masks): the DISTINCT-signature relation is capped at ``2^bits`` rows
    no matter the corpus size, so close signature-VALUE pairs come from
    exploding each distinct value against the fixed mask set and
    equi-joining on the neighbor value — a bounded O(2^bits * masks)
    computation. Doc pairs are then two equi-joins of the doc->sig
    relation against the tiny value-pair relation (plus a same-sig
    self-join for Hamming 0); every row produced is an output row, so the
    expansion is output-linear. No per-corpus quadratic term anywhere.

    **Banded Hamming LSH** (wide signatures): split the signature into
    ``max_hamming + 1`` bit bands. Pigeonhole guarantees a qualifying pair
    is bit-identical in at least one band — an equi-join on
    (band_idx, band_value) finds EVERY pair (exact recall); candidates are
    verified with the true ``bit_count`` distance. This is the Manku et
    al. (WWW'07) web-dedup shape; band width ``bits/(h+1)`` governs bucket
    collision rates, so it needs wide signatures to shine (the widest this
    hash supports is 60-bit/h=3 -> 15-bit bands; Manku's original is
    64-bit, which the 60-bit portable HASH64 cannot fill — see
    simhash_signatures), while narrow signatures get the enumeration path.
    """
    if strategy not in ("auto", "neighbors", "banded"):
        raise ValueError(f"unknown strategy: {strategy}")
    n_masks = sum(__import__("math").comb(bits, k) for k in range(1, max_hamming + 1))
    # Materialize signatures ONCE: both strategies reference the sig
    # relation from several join legs (value set, two doc probes, same-sig
    # self-join), and without truncating lineage each leg re-runs the token
    # explode + bits-wide groupBy — measured 3.3 s of the 4.5 s sf0.1 bench.
    # localCheckpoint also lets the auto rule count distinct signatures for
    # free-ish. (On a real cluster with executor churn, swap for reliable
    # .checkpoint() + setCheckpointDir.)
    sigs = simhash_signatures(df, col, id_col, bits).localCheckpoint(eager=True)
    if strategy == "auto":
        if n_masks <= _NEIGHBOR_MASK_LIMIT:
            # ADVICE r2: mask count alone ignores corpus shape — the
            # neighbor explode materializes n_masks rows per DISTINCT
            # signature, so gate on the product too (65k sigs x 696 masks
            # = 45M rows is fine; 2k masks over 10^8 distinct sigs is not).
            # 2^bits bounds the distinct count, so narrow signatures skip
            # the counting job outright.
            if n_masks * (1 << bits) <= 200_000_000:
                strategy = "neighbors"
            else:
                n_distinct = sigs.select("simhash").distinct().count()
                strategy = "neighbors" if n_masks * n_distinct <= 200_000_000 else "banded"
        else:
            strategy = "banded"
    if strategy == "neighbors":
        vals = sigs.select("simhash").distinct()
        masks = _hamming_masks(bits, max_hamming)
        # r13 creep fix: the masks used to be stated as one |masks|-wide
        # array projection (696 DISTINCT XOR expressions in a single
        # codegen'd select) — profiling put 0.79 s of the lane's 1.7 s in
        # that one operator.  Exploding the mask set as ONE array literal
        # and applying a single xor produces the identical fan-out at
        # 0.57 s measured, keeps the generated code size constant in
        # max_hamming instead of combinatorial, and — unlike a broadcast
        # cross-join against a mask relation (0.47 s) — adds no
        # BroadcastNestedLoopJoin for the plan gate to distinguish from a
        # genuine all-pairs product (tests/test_plans.py forbids BNLJ on
        # this lane outright, an invariant worth the 0.1 s).
        nbrs = (
            vals.select(
                F.col("simhash").alias("s_a"),
                F.explode(F.lit(masks)).alias("mask"),
            )
            .select("s_a", F.expr("s_a ^ mask").alias("s_b"))
            .where(F.col("s_a") < F.col("s_b"))
            .join(vals.select(F.col("simhash").alias("s_b")), "s_b")
        )
        # nbrs is value-space, not corpus-space: <= 2^bits * masks rows no
        # matter the corpus size (and in practice ~close-value pairs only),
        # so broadcasting it keeps BOTH doc-side probes shuffle-free — the
        # only shuffle left on this path is the same-sig self-join.
        nbrs = F.broadcast(nbrs)
        cross_sig = (
            sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("s_a"))
            .join(nbrs, "s_a")
            .join(sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("s_b")), "s_b")
            .select(
                "doc_a", "doc_b", F.expr("CAST(bit_count(s_a ^ s_b) AS INT)").alias("hamming")
            )
        )
        same = sigs.select(F.col("doc").alias("doc_a"), "simhash").join(
            sigs.select(F.col("doc").alias("doc_b"), "simhash"), "simhash"
        )
        same_sig = (
            same.where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", F.lit(0).alias("hamming"))
        )
        # cross_sig emits each value-pair once with canonical s_a < s_b; the
        # doc ids on the two sides are arbitrary, so canonicalize doc order
        return cross_sig.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "hamming",
        ).union(same_sig)
    n_bands = min(max_hamming + 1, bits)
    base, rem = divmod(bits, n_bands)
    bounds, lo = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        bounds.append((lo, w))
        lo += w
    stacked = sigs.select(
        "doc",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(f"(simhash >> {b_lo}) & {(1 << w) - 1}").alias("band_val"),
                    )
                    for i, (b_lo, w) in enumerate(bounds)
                ]
            )
        ).alias("b"),
    ).select("doc", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val"))
    return (
        stacked.select(
            F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"), "band_idx", "band_val"
        )
        .join(
            stacked.select(
                F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"), "band_idx", "band_val"
            ),
            ["band_idx", "band_val"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "h_a", "h_b")
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Incremental (batch-vs-history) dedup with a Bloom prefilter
# ---------------------------------------------------------------------------

def _bloom_probe_indices(h, n_bits: int, n_hashes: int):
    """Double-hashing probe positions for a vector of 64-bit hashes.

    idx_i = (h1 + i*h2) mod n_bits with h2 forced odd — the standard
    Kirsch–Mitzenmacher scheme; n_bits must be a power of two so the mod
    is a mask. Returns a list of ``n_hashes`` uint64 index arrays.
    """
    import numpy as np

    mask = np.uint64(n_bits - 1)
    h1 = h.astype(np.uint64)
    h2 = ((h1 >> np.uint64(17)) | (h1 << np.uint64(47))) | np.uint64(1)
    return [(h1 + np.uint64(i) * h2) & mask for i in range(n_hashes)]


def incremental_bloom_dedup(
    history: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 1 << 22,
    n_hashes: int = 5,
) -> DataFrame:
    """Batch-vs-history dedup with a Bloom-filter prefilter: return the ids
    of ``batch`` docs whose text already exists in ``history``.

    This is the INCREMENTAL dedup shape a 100 TB ingest pipeline needs:
    the historical corpus is huge and mostly static, the daily batch is
    small, and re-shuffling history against every batch is the cost to
    kill. The plan here:

    1. scan history ONCE, folding text hashes into per-Arrow-batch Bloom
       bitmaps (``mapInPandas``, no shuffle), OR the ~num-batches bitmaps
       on the driver (each ``n_bits/8`` bytes — 512 KiB at the default,
       fixed regardless of corpus size) and broadcast the result;
    2. prefilter the batch with a vectorized membership ``pandas_udf`` —
       rows that miss the filter are DEFINITELY new (no false negatives)
       and never enter a shuffle;
    3. exactly verify the survivors (true dups + the ~0.1% false
       positives) with a semi join on (hash, text) against history.

    Semantics are EXACT — the Bloom filter only prunes work; wrong answers
    are impossible by construction (step 3 re-checks every candidate).
    Hashing is the engine-portable md5-derived hash64, so the whole
    operator is oracle-checkable as a plain semi join.

    ``n_bits`` MUST be a power of two: the probe scheme reduces hashes
    with a bitmask (``_bloom_probe_indices``), and a non-power-of-two
    size would silently skew probe positions — results would stay exact
    (the verify join re-checks), but prefilter effectiveness would
    degrade unnoticed, so it is rejected loudly instead.
    """
    import numpy as np

    if n_bits <= 0 or n_bits & (n_bits - 1):
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    spark = batch.sparkSession
    h_expr = HASH64_SQL.format(x=text_col)
    # NULL text can never equal anything (SQL semantics — the oracle's
    # EXISTS never matches it), so drop it BEFORE hashing: a NULL __h
    # would flip the Arrow batch to float64, rounding 64-bit hashes at
    # 2^53 and silently desynchronizing build-vs-probe Bloom indices
    hist = history.where(F.col(text_col).isNotNull()).selectExpr(
        f"{h_expr} AS __h", f"{text_col} AS __t"
    )
    bat = batch.where(F.col(text_col).isNotNull()).selectExpr(
        id_col, f"{h_expr} AS __h", f"{text_col} AS __t"
    )

    def _build(pdfs):
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            h = pdf["__h"].to_numpy()
            for idx in _bloom_probe_indices(h, n_bits, n_hashes):
                byte = (idx >> np.uint64(3)).astype(np.int64)
                bit = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
                np.bitwise_or.at(bits, byte, bit)
        yield pd.DataFrame({"bloom": [bits.tobytes()]})

    partials = hist.select("__h").mapInPandas(_build, "bloom binary").collect()
    merged = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in partials:
        merged |= np.frombuffer(row.bloom, dtype=np.uint8)
    bc = spark.sparkContext.broadcast(merged.tobytes())

    @F.pandas_udf("boolean")
    def _in_bloom(h: pd.Series) -> pd.Series:
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        arr = h.to_numpy()
        hit = np.ones(len(arr), dtype=bool)
        for idx in _bloom_probe_indices(arr, n_bits, n_hashes):
            byte = (idx >> np.uint64(3)).astype(np.int64)
            bit = (idx & np.uint64(7)).astype(np.uint8)
            hit &= ((bits[byte] >> bit) & np.uint8(1)).astype(bool)
        return pd.Series(hit)

    candidates = bat.where(_in_bloom(F.col("__h")))
    # verify WITHOUT shuffling history text: history first left-semi-prunes
    # on the candidate HASHES (a batch-bounded relation AQE broadcasts), so
    # only hash-colliding history rows — about the true-dup count plus
    # Bloom false positives — carry their text into the exact verify join
    cand_h = candidates.select("__h").distinct()
    hist_pruned = hist.join(cand_h, "__h", "left_semi")
    return candidates.join(hist_pruned, ["__h", "__t"], "left_semi").select(id_col)


def incremental_minhash_pairs(
    hist: DataFrame,
    batch: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-dup twin of :func:`incremental_bloom_dedup`: which documents in
    today's batch near-duplicate the accumulated history?  The daily-crawl
    question exact hashing can't answer (crawls re-serve boilerplate-
    shifted copies, not byte-identical ones).

    History is reduced to its banded MinHash signatures — at scale this
    relation IS the persisted index (store (band_idx, band_hash, doc),
    bucketed by band_hash; a day's probe then touches only the batch's own
    buckets, never re-scanning history text — same contract as the Bloom
    prefilter's persisted bitmap).  Batch band hashes equi-join history's
    buckets for candidates; candidates verify with exact shingle Jaccard
    over the batch docs plus ONLY the history docs that candidated
    (left-semi pruned before re-shingling), so LSH recall/precision only
    affects WORK, never correctness of the emitted pairs (each is a true
    >= threshold match).

    Output: (doc_a = history doc, doc_b = batch doc, jaccard) — one row
    per verified cross-set near-dup pair.
    """
    # batch shingles are needed twice anyway (signatures + verify) — build
    # them first and derive the batch signatures from them (min is
    # distinct-invariant: bit-identical sigs, one less tokenize pass).
    # Both signature relations stay LAZY; the cand checkpoint below is
    # then ONE Spark job whose independent hist/batch subtrees the stage
    # scheduler runs concurrently — the old per-side eager checkpoints
    # serialized them (and each side feeds cand exactly once, so the
    # intermediate materializations bought nothing).
    ds_b = doc_shingles(batch, col, id_col, n).localCheckpoint(eager=True)
    hs = _band_stack(minhash_signatures(hist, col, id_col, k, n), k, bands)
    bs = _band_stack(minhash_signatures_from_shingles(ds_b, k), k, bands)
    cand = (
        bs.select(F.col("doc").alias("doc_b"), "band_idx", "band_hash")
        .join(
            hs.select(F.col("doc").alias("doc_a"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Jaccard verification needs shingles only for history docs that
    # actually candidate — semi-join hist down BEFORE re-shingling, so the
    # probe's text work is O(batch + candidates), never a full-history
    # re-scan (at scale the per-doc shingle-set sizes live in the
    # persisted index alongside the band hashes).  The two sides keep
    # SEPARATE shingle/size relations throughout: a history doc_id that
    # collides with a batch doc_id (daily crawls often restart ids) must
    # never merge shingle sets under one key, which a unioned relation
    # would silently do.
    hist_hit = hist.join(
        cand.select(F.col("doc_a").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    ds_h = doc_shingles(hist_hit, col, id_col, n).localCheckpoint(eager=True)
    sizes_h = ds_h.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    sizes_b = ds_b.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(ds_h.select(F.col("doc").alias("doc_a"), "sh"), "doc_a")
        .join(ds_b.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .where(F.col("sh") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes_h.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes_b.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
