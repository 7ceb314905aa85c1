"""Extension-operator behavior tests beyond oracle parity: recall of the
approximate paths vs their exact baselines, and the multimodal stub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft.ext import dedup, multimodal, simsearch
from sparkgraft.io.readers import read_table


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """Every high-Jaccard pair (>=0.7) must be caught by MinHash+LSH at
    threshold 0.5 (planted near-dups are ~0.9 — banding catches them)."""
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_simhash_finds_planted_neardups(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_close_pairs(docs, max_hamming=3).collect()
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    close = {(r.doc_a, r.doc_b) for r in pairs}
    # most >=0.9-Jaccard pairs should be within Hamming 3 of 16 bits
    assert exact, "fixture should contain planted near-dup pairs"
    caught = len(exact & close) / len(exact)
    assert caught >= 0.8, f"simhash recall too low: {caught}"


def test_simhash_banded_equals_brute_force(spark, sf_dir):
    """The banded Hamming-LSH join must return EXACTLY the brute-force
    all-pairs result (pigeonhole: Hamming<=3 ⇒ one of 4 bands identical)."""
    docs = read_table(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs)
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in (
            sigs.select(F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"))
            .crossJoin(
                sigs.select(F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"))
            )
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("hamming", F.expr("CAST(bit_count(h_a ^ h_b) AS INT)"))
            .where(F.col("hamming") <= 3)
            .collect()
        )
    }
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_close_pairs(docs, max_hamming=3).collect()
    }
    assert banded == brute


def test_cosine_neardup_snowflake_scale_ids(spark):
    """Block assignment must not overflow under ANSI mode for ids past
    2^33 (hash-derived / snowflake ids) — the Knuth-multiply bucket
    (id * 2654435761) threw ARITHMETIC_OVERFLOW there. Regression for the
    hash()-based bucket, which can never overflow."""
    base = 5_000_000_000  # > 2^32: the old multiply overflowed BIGINT here
    rows = [
        (base + i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)
    ]
    rows.append((base + 100, rows[0][1]))  # planted exact dup of vec 0
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = simsearch.cosine_neardup_pairs(emb, 0.999, n_blocks=4).collect()
    assert any(
        r.vec_a == base and r.vec_b == base + 100 for r in pairs
    ), "planted dup must surface"


def test_semantic_dedup_matches_within_cell_brute_force(spark, sf_dir):
    """A vector is dropped iff some lower-id vector in the SAME IVF cell
    has cosine >= threshold with it — check against a driver-side brute
    force on the fixture."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    got = {r.vec_id: (r.cell, r.is_kept)
           for r in simsearch.semantic_dedup(emb, 0.45).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    cells = {vid: got[vid][0] for vid in vecs}
    for vid, v in vecs.items():
        has_lower_dup = any(
            ovid < vid
            and cells[ovid] == cells[vid]
            and round(
                float(np.dot(ov, v) / (np.linalg.norm(ov) * np.linalg.norm(v))), 8
            )
            >= 0.45
            for ovid, ov in vecs.items()
        )
        assert got[vid][1] == (not has_lower_dup), vid
    assert any(not kept for _, kept in got.values()), (
        "fixture must contain planted near-dup embeddings"
    )


def test_lsh_topk_recall(spark, sf_dir):
    """ANN top-5 must overlap brute-force top-5 on average (recall@5)."""
    emb = read_table(spark, sf_dir, "embeddings")
    brute = simsearch.brute_force_topk(emb, F.col("vec_id") < 8, k=5).collect()
    ann = simsearch.lsh_topk(emb, F.col("vec_id") < 8, k=5).collect()
    b = {}
    for r in brute:
        b.setdefault(r.qid, set()).add(r.cid)
    a = {}
    for r in ann:
        a.setdefault(r.qid, set()).add(r.cid)
    recalls = [len(b[q] & a.get(q, set())) / len(b[q]) for q in b]
    avg = sum(recalls) / len(recalls)
    # 8 hyperplanes on near-random vectors: modest recall is expected;
    # the point is the plumbing + determinism, tuning is N_PLANES/multiprobe
    assert avg > 0.2, f"ANN recall collapsed: {avg}"


def test_decode_stub_fake_path(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    feats = multimodal.decode_features(multimodal.attach_payload(docs), fake=True)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r0 = {r.doc_id: r for r in rows}
    # deterministic fake features: re-run yields identical values
    rows2 = {r.doc_id: r for r in multimodal.decode_features(
        multimodal.attach_payload(docs), fake=True
    ).collect()}
    assert all(r0[k] == rows2[k] for k in r0)
    assert all(0 <= r.width < 640 and 0 <= r.height < 480 for r in rows)


def test_resize_stub_geometry(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(20)
    feats = multimodal.decode_features(multimodal.attach_payload(docs), fake=True)
    resized = multimodal.resize_stub(feats, target_width=224, fake=True).collect()
    assert len(resized) == 20
    for r in resized:
        assert r.out_width == 224 and r.out_height >= 1
        # aspect ratio preserved within rounding
        assert abs(r.out_height - r.height * 224 / r.width) <= 0.5 + 1e-9


def test_frame_sample_real_path_raises(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(2)
    frames = multimodal.frame_sample(multimodal.attach_payload(docs), fake=False)
    with pytest.raises(Exception) as ei:
        frames.collect()
    assert "frame extraction" in str(ei.value) or "NotImplementedError" in str(ei.value)


def test_decode_real_path_rejects_non_png(spark, sf_dir):
    """fake=False is a REAL decoder now (PNG via ext/png); a payload that
    is not a PNG is an unsupported input and must fail loud, naming its
    magic bytes — never emit a silently wrong feature row."""
    docs = read_table(spark, sf_dir, "documents").limit(2)
    feats = multimodal.decode_features(multimodal.attach_payload(docs), fake=False)
    with pytest.raises(Exception) as ei:
        feats.collect()
    assert "unsupported codec" in str(ei.value)


def test_decode_real_path_decodes_png(spark):
    """decode_features(fake=False) on genuine PNG bytes: true IHDR
    dimensions come back (no stub arithmetic), NULL payloads emit NULL
    features."""
    from sparkgraft.ext import png

    payload = png.encode(5, 3, bytes(range(15)), filters=[0, 2, 4])
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "doc_id long, payload binary"
    )
    out = {r.doc_id: r for r in multimodal.decode_features(df, fake=False).collect()}
    assert (out[1].width, out[1].height) == (5, 3)
    assert out[1].n_bytes == len(payload) and out[1].head_byte == 0x89
    assert (out[2].width, out[2].height, out[2].n_bytes) == (None, None, None)


def test_pointer_fetch_ranged_reads_planted_bytes(spark, tmp_path):
    """The ranged-read fetch must return exactly the planted byte ranges —
    across TWO blob files in one pointer table (exercises the per-file
    grouping + seek ordering inside the mapInPandas batch)."""
    import hashlib

    docs_a = spark.createDataFrame(
        [(1, "alpha payload"), (2, "β-unicode bytes"), (3, "")],
        "doc_id bigint, text string",
    )
    docs_b = spark.createDataFrame(
        [(4, "fourth document, other blob"), (5, "fifth")],
        "doc_id bigint, text string",
    )
    ptrs_a = multimodal.build_pointer_fixture(spark, docs_a, str(tmp_path / "a.bin"))
    ptrs_b = multimodal.build_pointer_fixture(spark, docs_b, str(tmp_path / "b.bin"))
    out = {
        r.doc_id: (r.n_bytes, r.payload_md5)
        for r in multimodal.fetch_payload_ranges(ptrs_a.union(ptrs_b)).collect()
    }
    expected = {
        i: (
            len(t.encode("utf-8")),
            hashlib.md5(t.encode("utf-8")).hexdigest(),
        )
        for i, t in [
            (1, "alpha payload"),
            (2, "β-unicode bytes"),
            (3, ""),
            (4, "fourth document, other blob"),
            (5, "fifth"),
        ]
    }
    assert out == expected


def test_pointer_fetch_short_read_raises(spark, tmp_path):
    """A pointer past EOF must fail loudly (silent truncation would feed
    corrupt payloads downstream)."""
    import pytest as _pytest

    blob = tmp_path / "c.bin"
    blob.write_bytes(b"0123456789")
    ptrs = spark.createDataFrame(
        [(1, (str(blob), 8, 100))],
        "doc_id bigint, ptr struct<path:string, offset:bigint, length:int>",
    )
    with _pytest.raises(Exception, match="short read"):
        multimodal.fetch_payload_ranges(ptrs).collect()


def test_cluster_dedup_transitive(spark):
    """A~B and B~C (but A!~C directly) must land in ONE cluster labeled by
    the minimum doc id — connected components, not pairwise grouping."""
    t0 = "a b c d e f g h i j k l"
    t1 = "a b c d e f g h i j x y"      # ~0.67 jaccard vs t0
    t2 = "p q c d e f g h i j x y"      # ~0.67 vs t1, ~0.43 vs t0
    far = "z1 z2 z3 z4 z5 z6 z7 z8"
    docs = spark.createDataFrame(
        [(0, t0), (1, t1), (2, t2), (7, far)], "doc_id long, text string"
    )
    direct = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in direct and (1, 2) in direct and (0, 2) not in direct
    clusters = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(docs, threshold=0.5).collect()}
    assert clusters == {0: 0, 1: 0, 2: 0}, clusters


def test_cluster_dedup_driver_and_distributed_paths_agree(spark, sf_dir):
    """The union-find fast path (small pair graphs) and the distributed
    min-label propagation path (driver_max_pairs=0 forces it) must produce
    identical components on real testdata."""
    docs = read_table(spark, sf_dir, "documents")
    fast = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dup_clusters(docs, threshold=0.5).collect()
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dup_clusters(docs, threshold=0.5, driver_max_pairs=0).collect()
    }
    assert fast, "fixture must contain planted near-dups"
    assert fast == dist


def test_connected_components_long_chain_converges(spark):
    """A planted path graph of diameter 60 — far beyond any fixed round
    cap — must still collapse to one component on BOTH paths. Guards the
    fixpoint contract (the old implementation truncated at 10 rounds)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    expect = {(i, 0) for i in range(61)}
    fast = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(chain).collect()
    }
    dist = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(chain, driver_max_pairs=0).collect()
    }
    assert fast == expect
    assert dist == expect


def test_exact_dedup_counts_align(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    groups = dedup.exact_dups(docs)
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_jaccard_prefix_filter_exact_and_smaller(spark, sf_dir):
    """Prefix filtering must (a) emit EXACTLY the pairs of the unfiltered
    blocking path at several thresholds, and (b) feed strictly fewer
    candidate pairs into verification than the all-shared-shingles join
    produces — the point of ppjoin."""
    docs = read_table(spark, sf_dir, "documents")
    for thr in (0.3, 0.5, 0.8):
        fast = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=thr, prefix_filter=True
            ).collect()
        }
        plain = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=thr, prefix_filter=False
            ).collect()
        }
        assert fast == plain, f"threshold {thr}"
    assert fast, "fixture must contain planted near-dups"

    # df-cut parity: with max_doc_freq the paths must share cut semantics
    # (cut intersections, full union sizes) and still emit identical pairs
    cut_fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=4, prefix_filter=True
        ).collect()
    }
    cut_plain = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=4, prefix_filter=False
        ).collect()
    }
    assert cut_fast == cut_plain
    assert cut_plain, "cut run must still surface the planted near-dups"

    ds = dedup.doc_shingles(docs)
    n_prefix_cand = dedup.jaccard_prefix_candidates(ds, 0.5).count()
    freq = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    blocked = ds.join(freq.where(F.col("df") >= 2).select("sh"), "sh")
    n_blocked_cand = (
        blocked.select(F.col("doc").alias("doc_a"), "sh")
        .join(blocked.select(F.col("doc").alias("doc_b"), "sh"), "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )
    assert n_prefix_cand < n_blocked_cand, (n_prefix_cand, n_blocked_cand)


def test_content_class_flip_is_invisible(spark, sf_dir, monkeypatch):
    """The duplication-ratio plan flip must never change results: on a
    3x-duplicated corpus, force-engaging and force-bypassing content-class
    canonicalization must emit bit-identical pair relations for both the
    Jaccard and the MinHash+LSH paths — and the gate itself must engage on
    the duplicated corpus but not on the mostly-unique fixture."""
    docs = read_table(spark, sf_dir, "documents").limit(200)
    dup = docs
    for i in (1, 2):
        dup = dup.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(10_000 * i))
        )

    assert dedup._content_classes_if_duplicated(dup, "text", "doc_id")[0] is not None
    assert dedup._content_classes_if_duplicated(docs, "text", "doc_id")[0] is None

    for force, engaged in ((0.0, False), (1.01, True)):
        monkeypatch.setattr(dedup, "_DUP_RATIO_LIMIT", force)
        got = dedup._content_classes_if_duplicated(dup, "text", "doc_id")[0]
        assert (got is not None) == engaged

    results = {}
    for name, limit in (("canon", 1.01), ("plain", 0.0)):
        monkeypatch.setattr(dedup, "_DUP_RATIO_LIMIT", limit)
        results[name] = {
            "jac": sorted(
                (r.doc_a, r.doc_b, r.jaccard)
                for r in dedup.ngram_jaccard_pairs(dup, threshold=0.5).collect()
            ),
            "lsh": sorted(
                (r.doc_a, r.doc_b, r.jaccard)
                for r in dedup.minhash_lsh_pairs(dup, threshold=0.5).collect()
            ),
        }
    assert results["canon"]["jac"] == results["plain"]["jac"]
    assert results["canon"]["lsh"] == results["plain"]["lsh"]
    # duplication must actually manufacture pairs (each doc has 2 twins)
    assert len(results["canon"]["jac"]) >= 3 * 200


def test_jaccard_auto_selects_prefix_on_hot_shingles(spark, sf_dir):
    """prefix_filter=None must measure the shingle-df tail and flip to the
    ppjoin path when hot shingles make the plain join quadratic — and the
    auto pick must still match the forced-plain results exactly."""
    # normal corpus: light-tailed df (blowup ~0.55) -> auto == plain path
    docs = read_table(spark, sf_dir, "documents")
    auto = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    plain = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, prefix_filter=False
        ).collect()
    }
    assert auto == plain

    # hot-shingle corpus: every doc shares one boilerplate phrase, so the
    # shared shingles have df = n_docs and blowup ~ n_docs/2 >> limit
    boiler = "standard legal disclaimer applies to all documents here "
    hot = spark.createDataFrame(
        [(i, boiler + f"unique body {i} " + "x" * (i % 7)) for i in range(80)],
        "doc_id bigint, text string",
    )
    ds_hot = dedup.doc_shingles(hot)
    freq = ds_hot.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    stats = freq.agg(
        (F.sum(F.col("df") * (F.col("df") - 1) / 2) / F.sum("df")).alias("blowup")
    ).collect()[0]
    assert stats.blowup > dedup._JACCARD_BLOWUP_LIMIT, stats.blowup
    auto_hot_df = dedup.ngram_jaccard_pairs(hot, threshold=0.3)
    # the ppjoin path (and only it) ranks shingles with a window function —
    # its presence in the plan proves auto actually flipped to prefix
    assert "Window" in auto_hot_df._jdf.queryExecution().optimizedPlan().toString()
    auto_hot = {
        (r.doc_a, r.doc_b, r.jaccard) for r in auto_hot_df.collect()
    }
    plain_hot = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            hot, threshold=0.3, prefix_filter=False
        ).collect()
    }
    assert auto_hot == plain_hot
    assert auto_hot, "boilerplate corpus must contain near-dups at t=0.3"


def test_simhash_neighbor_and_banded_paths_agree(spark, sf_dir):
    """The two exact Hamming-pair strategies must emit identical pair sets
    (the auto rule picks neighbors at 16 bits; force both explicitly)."""
    docs = read_table(spark, sf_dir, "documents")
    nb = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_close_pairs(docs, strategy="neighbors").collect()
    }
    bd = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_close_pairs(docs, strategy="banded").collect()
    }
    assert nb == bd
    assert nb, "fixture must contain close simhash pairs"


def test_incremental_bloom_exact_with_planted_dups(spark):
    """Planted corpus: batch docs 10..19 duplicate history texts, the rest
    are new. The bloom prefilter + exact verify must return exactly the
    duplicated batch ids — no false positives survive verification."""
    hist = spark.createDataFrame(
        [(i, f"history document number {i} body") for i in range(100)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(1000 + i, f"history document number {i} body") for i in range(10, 20)]
        + [(2000 + i, f"brand new crawl text {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    got = [
        r.doc_id
        for r in dedup.incremental_bloom_dedup(hist, batch).collect()
    ]
    assert sorted(got) == [1000 + i for i in range(10, 20)]


def test_incremental_bloom_exact_under_forced_false_positives(spark):
    """A deliberately tiny filter (64 bits for 100 keys — saturated, FP
    rate ~1) must still return the exact answer: the semi-join verification
    makes false positives harmless, and false negatives are impossible."""
    hist = spark.createDataFrame(
        [(i, f"history document number {i} body") for i in range(100)],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "history document number 3 body")]
        + [(2000 + i, f"definitely new text {i}") for i in range(200)],
        "doc_id bigint, text string",
    )
    got = [
        r.doc_id
        for r in dedup.incremental_bloom_dedup(
            hist, batch, n_bits=64, n_hashes=2
        ).collect()
    ]
    assert got == [1000]


def test_incremental_bloom_prefilter_prunes(spark):
    """With a properly-sized filter, non-duplicate batch rows must be
    dropped BEFORE the verify join: replicate the operator's Bloom build
    over the history hashes, probe the batch hashes with the SAME scheme,
    and assert the candidate (hit) count stays near the true-dup count —
    a broken prefilter that passes everything through to the verify join
    would still produce the exact final answer, so the final result alone
    cannot prove pruning."""
    import numpy as np

    from sparkgraft.ext.dedup import HASH64_SQL, _bloom_probe_indices

    n_bits, n_hashes = 1 << 20, 5
    hist = spark.createDataFrame(
        [(i, f"history document number {i} body") for i in range(200)],
        "doc_id bigint, text string",
    )
    batch_rows = [(1000 + i, f"history document number {i} body") for i in range(20)] + [
        (5000 + i, f"unseen text {i}") for i in range(1000)
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")

    res = dedup.incremental_bloom_dedup(hist, batch, n_bits=n_bits, n_hashes=n_hashes)
    assert sorted(r.doc_id for r in res.collect()) == [1000 + i for i in range(20)]

    def _hashes(df):
        rows = df.selectExpr(HASH64_SQL.format(x="text") + " AS h").collect()
        return np.array([r.h for r in rows], dtype=np.int64).astype(np.uint64)

    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    for idx in _bloom_probe_indices(_hashes(hist), n_bits, n_hashes):
        byte = (idx >> np.uint64(3)).astype(np.int64)
        np.bitwise_or.at(bits, byte, np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    bh = _hashes(batch)
    hit = np.ones(len(bh), dtype=bool)
    for idx in _bloom_probe_indices(bh, n_bits, n_hashes):
        byte = (idx >> np.uint64(3)).astype(np.int64)
        bit = (idx & np.uint64(7)).astype(np.uint8)
        hit &= ((bits[byte] >> bit) & np.uint8(1)).astype(bool)
    n_candidates = int(hit.sum())
    # 20 planted dups; at 1M bits / 200 entries the FP rate is ~0, so the
    # prefilter must cut the 1020-row batch to essentially the dup set
    assert 20 <= n_candidates <= 25, n_candidates


def test_incremental_bloom_rejects_non_power_of_two_bits(spark):
    """Mask-based probing silently skews on a non-power-of-two n_bits, so
    the operator must reject it loudly."""
    df = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="power of two"):
        dedup.incremental_bloom_dedup(df, df, n_bits=1000)


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    """int8 quantization must preserve neighbor structure: recall@5 of the
    quantized top-k against exact float cosine top-k stays high (int8 SQ
    perturbs cosines by ~1/127 — far below typical neighbor gaps)."""
    emb = read_table(spark, sf_dir, "embeddings")
    exact = simsearch.brute_force_topk(emb, F.col("vec_id") < 8, k=5)
    quant = simsearch.quantized_topk(emb, F.col("vec_id") < 8, k=5)
    ex = {(r.qid, r.cid) for r in exact.collect()}
    qz = {(r.qid, r.cid) for r in quant.collect()}
    assert len(ex & qz) / len(ex) >= 0.8, (ex, qz)


def test_pii_scrub_planted_patterns(spark):
    """Planted PII must be tagged exactly; clean text untouched."""
    from sparkgraft.ext import text as t

    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or 10.0.255.1 now"),
            (2, "call +82 123-4567 8901 nothing"),
            (3, "phone 010-1234-5678 and email a@b.io"),
            (4, "clean text with no identifiers at all"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in t.pii_scrub(df).collect()}
    assert rows[1].n_email == 1 and rows[1].n_ipv4 == 1
    assert rows[1].scrubbed == "contact <EMAIL> or <IP> now"
    assert rows[3].n_phone == 1 and rows[3].n_email == 1
    assert rows[3].scrubbed == "phone <PHONE> and email <EMAIL>"
    assert rows[4].scrubbed == "clean text with no identifiers at all"
    assert rows[4].n_email == rows[4].n_ipv4 == rows[4].n_phone == 0


# ---------------------------------------------------------------------------
# round 4: k-means / linear classifier / source data card
# ---------------------------------------------------------------------------

def test_kmeans_assigns_nearest_final_centroid(spark, sf_dir):
    """Lloyd invariant: after convergence of the LOOP, every point's
    recorded cluster is its argmin over the final centroids — recomputed
    independently in numpy from the same quantization rule. Also pins the
    tie-break (first index of min) and that sq_dist equals the recomputed
    distance exactly."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    out = simsearch.kmeans_assign(emb, k=4, iters=3).collect()
    rows = emb.select("vec_id", "embedding").collect()
    q = {r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1_000_000).astype(np.int64)
         for r in rows}
    # replay the loop in numpy (exact integer arithmetic, floor division)
    cents = [q[j].copy() for j in range(4)]
    for it in range(3):
        d = {v: [int(((x - c) ** 2).sum()) for c in cents] for v, x in q.items()}
        a = {v: ds.index(min(ds)) for v, ds in d.items()}
        if it < 2:
            new = []
            for j in range(4):
                members = [q[v] for v, c in a.items() if c == j]
                if members:
                    s = np.sum(members, axis=0, dtype=object)
                    new.append(np.array([int(x) // len(members) for x in s], dtype=np.int64))
                else:
                    new.append(cents[j])
            cents = new
    for r in out:
        ds = [int(((q[r.vec_id] - c) ** 2).sum()) for c in cents]
        assert r.cluster == ds.index(min(ds)), r.vec_id
        assert r.sq_dist == min(ds), r.vec_id
    assert len({r.cluster for r in out}) == 4, "all 4 clusters should be populated"


def test_kmeans_assignment_plan_is_map_only(spark, sf_dir):
    """The per-iteration assignment pass must be join-free map work
    (centroid literals inlined): no Exchange, no join operator anywhere."""
    emb = read_table(spark, sf_dir, "embeddings")
    plan = simsearch.kmeans_assign(emb, k=4, iters=1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_linear_classifier_hand_computed(spark):
    """Exact check on a two-token doc against hashlib-derived weights."""
    import hashlib

    from sparkgraft.ext import text as T

    w = T.hashed_weights()
    df = spark.createDataFrame([(1, "Hello  world"), (2, ""), (3, "x")], "doc_id long, text string")
    got = {r.doc_id: r for r in T.linear_classifier(df).collect()}

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 64

    s = w[bucket("hello")] + w[bucket("world")]
    assert got[1].n_tokens == 2
    assert got[1].score == round(s / 2000.0, 6)
    assert got[1].keep == (s > 0)
    assert got[2].n_tokens == 0 and got[2].score == 0.0 and got[2].keep is False
    assert got[3].score == round(w[bucket("x")] / 1000.0, 6)


def test_source_datacard_accounting(spark, sf_dir):
    """share_ppm floor-div sums to <= 1e6 and per-source counts re-add to
    the corpus total; dup_rate in [0, 1)."""
    from sparkgraft.ext import corpus as C

    docs = read_table(spark, sf_dir, "documents")
    out = C.source_datacard(docs).collect()
    total = docs.count()
    assert sum(r.n_docs for r in out) == total
    assert sum(r.share_ppm for r in out) <= 1_000_000
    assert all(0 <= r.dup_rate < 1 for r in out)
    assert all(r.n_langs >= 1 and r.n_tokens > 0 for r in out)


def test_chunk_overlap_covers_and_reconstructs(spark):
    """Every token position lands in >= 1 chunk; consecutive chunks overlap
    by size - stride; a short doc yields exactly one chunk equal to its
    normalized text."""
    from sparkgraft.ext import corpus as C

    long_text = " ".join(f"t{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, long_text), (2, "just a few tokens")], "doc_id long, text string"
    )
    out = {(r.doc_id, r.chunk_idx): r for r in C.chunk_overlap(df, size=64, stride=48).collect()}
    # doc 1: n=150 -> chunks at 0, 48, 96 (ceil((150-64)/48)=2)
    assert {i for (d, i) in out if d == 1} == {0, 1, 2}
    assert out[(1, 0)].chunk_text.split(" ")[0] == "t0"
    assert out[(1, 1)].chunk_text.split(" ")[0] == "t48"
    assert out[(1, 2)].chunk_text.split(" ") == [f"t{i}" for i in range(96, 150)]
    # overlap: last 16 tokens of chunk 0 == first 16 of chunk 1
    assert out[(1, 0)].chunk_text.split(" ")[48:] == out[(1, 1)].chunk_text.split(" ")[:16]
    assert out[(2, 0)].chunk_text == "just a few tokens" and out[(2, 0)].n_chunk_tokens == 4


def test_exact_dup_spans_planted(spark):
    """A 10-token phrase planted in two docs marks exactly its span in
    both; a unique doc reports zero; within-doc repetition counts."""
    from sparkgraft.ext import corpus as C

    phrase = " ".join(f"p{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(8))
    df = spark.createDataFrame(
        [
            (1, f"{uniq_a} {phrase}"),
            (2, f"{phrase} {uniq_b}"),
            (3, " ".join(f"c{i}" for i in range(20))),  # no 8-gram shared
            (4, f"{rep} {rep}"),                   # within-doc repeat
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in C.exact_dup_spans(df, n=8, min_count=2).collect()}
    assert got[1].dup_tokens == 10 and got[1].n_tokens == 20
    assert got[2].dup_tokens == 10
    assert got[3].dup_tokens == 0 and got[3].dup_fraction == 0.0
    assert got[4].dup_tokens == 16 and got[4].dup_fraction == 1.0


def test_dup_spans_shuffles_hashes_not_text(spark, sf_dir):
    """The span-frequency aggregation and join must key on the 64-bit hash
    column, never a string span; and no cartesian anywhere."""
    from sparkgraft.ext import corpus as C

    docs = read_table(spark, sf_dir, "documents")
    plan = C.exact_dup_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(h#" in plan or "hashpartitioning(h " in plan, plan[:2000]


def test_arrow_norms_hand_values_and_empty_vector(spark):
    """mapInArrow norms: hand-checked quantization (half-away), empty
    vector yields 0, negative components square correctly."""
    df = spark.createDataFrame(
        [(1, [0.003, -0.004]), (2, []), (3, [1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in simsearch.arrow_vector_norms(df).collect()}
    assert got[1].sumsq_micro == 3000**2 + 4000**2
    assert got[1].l2_micro == 5000
    assert got[2].sumsq_micro == 0 and got[2].l2_micro == 0
    assert got[3].sumsq_micro == 1_000_000**2 and got[3].l2_micro == 1_000_000


def test_variant_extract_handles_missing_key(spark):
    """try_variant_get returns null for absent paths / malformed JSON —
    stats count only present keys."""
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [("a", '{"k": 5}'), ("a", '{"x": 1}'), ("a", None), ("b", '{"k": -2}')],
        "event_type string, props string",
    )
    k = FF.try_variant_get(FF.try_parse_json("props"), "$.k", "bigint")
    out = {
        r.event_type: r
        for r in df.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(FF.count("k").alias("n"), FF.sum("k").alias("s"))
        .collect()
    }
    assert out["a"].n == 1 and out["a"].s == 5
    assert out["b"].n == 1 and out["b"].s == -2


def test_shard_assign_balances_tokens(spark, sf_dir):
    """Round-robin over the descending token order: shard token totals
    within ~2 max-doc sizes of each other, doc counts within 1."""
    from sparkgraft.ext import corpus as C

    docs = read_table(spark, sf_dir, "documents")
    out = C.shard_assign(docs, k=8).collect()
    tot = {}
    cnt = {}
    for r in out:
        tot[r.shard] = tot.get(r.shard, 0) + r.n_tokens
        cnt[r.shard] = cnt.get(r.shard, 0) + 1
    assert len(tot) == 8
    assert max(cnt.values()) - min(cnt.values()) <= 1
    biggest_doc = max(r.n_tokens for r in out)
    assert max(tot.values()) - min(tot.values()) <= 2 * biggest_doc


def test_pca_projection_aligns_with_true_eigenvector(spark, sf_dir):
    """The integer power-iteration projections must align with projections
    onto numpy's true top eigenvector (|cosine| > 0.99 over the projection
    vectors) — proving the fixed-point arithmetic converges to the real
    principal component, not just a deterministic artifact."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings")
    got = {r.vec_id: r.pc1_proj for r in simsearch.pca_pc1_projections(emb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc
    evals, evecs = np.linalg.eigh(C)
    pc1 = evecs[:, -1]
    true_proj = Xc @ pc1
    mine = np.array([got[r.vec_id] for r in rows], dtype=np.float64)
    cos = abs(np.dot(mine, true_proj)) / (np.linalg.norm(mine) * np.linalg.norm(true_proj))
    assert cos > 0.99, f"projection alignment only {cos}"


def test_pq_topk_recall_and_ordering(spark, sf_dir):
    """PQ is an approximation — pin its quality floor and its output
    contract: mean recall@5 vs exact float L2 must clear 0.25 at this
    coarse codebook (m=4, k=8; measured ~0.4), ranks are dense 1..5 per
    query, and every rank list is strictly ADC-distance-sorted.  (Code
    range/compression is enforced structurally: an out-of-range code
    would make the LUT element_at fail the whole query, which the parity
    tests run.)"""
    import numpy as np

    from sparkgraft.ext import simsearch
    from sparkgraft.io.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    rows = simsearch.pq_topk(emb).collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    qids = sorted({r["qid"] for r in rows})
    assert qids == list(range(8))
    recalls = []
    for q in qids:
        mine = sorted((r for r in rows if r["qid"] == q), key=lambda r: r["rank"])
        assert [r["rank"] for r in mine] == [1, 2, 3, 4, 5]
        dists = [r["approx_sq_dist"] for r in mine]
        assert dists == sorted(dists)
        d = {cid: float(((X[q] - v) ** 2).sum()) for cid, v in X.items()}
        exact = set(sorted(d, key=lambda c: (d[c], c))[:5])
        recalls.append(len(exact & {r["cid"] for r in mine}) / 5)
    assert sum(recalls) / len(recalls) >= 0.25, recalls


def test_incremental_minhash_planted_crossset_only(spark):
    """A batch doc that near-duplicates a HISTORY doc must be caught; two
    batch docs duplicating each other must NOT be (cross-set semantics);
    an unrelated batch doc reports nothing."""
    from sparkgraft.ext import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    hist = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark shuffles and joins here")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " ok"),                     # near-dup of hist 1
            (11, base + " ok"),                     # near-dup of 10 AND hist 1
            (12, "unrelated content nothing shared with anyone at all whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.incremental_minhash_pairs(hist, batch, threshold=0.5).collect()
    }
    assert (1, 10) in pairs and (1, 11) in pairs
    assert all(a in (1, 2) and b in (10, 11, 12) for a, b in pairs), pairs
    assert (10, 11) not in pairs and (11, 10) not in pairs
    assert not any(b == 12 for _, b in pairs)


def test_incremental_minhash_survives_colliding_ids(spark):
    """Daily crawls often restart doc ids at 0, so a history doc and a
    batch doc can share an id while holding DIFFERENT text.  The per-side
    shingle relations must keep them apart: the shared id must not merge
    shingle sets (which would corrupt every Jaccard touching it)."""
    from sparkgraft.ext import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    hist = spark.createDataFrame(
        [(7, base)], "doc_id bigint, text string"
    )
    batch = spark.createDataFrame(
        [
            (7, "entirely different words about warehouses and parquet footers"),
            (8, base + " ok"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.incremental_minhash_pairs(hist, batch, threshold=0.5).collect()
    }
    # hist 7 near-dups batch 8 with HIGH jaccard computed from the TRUE
    # per-side sets; a merged-key bug would deflate it below threshold
    assert (7, 8) in pairs and pairs[(7, 8)] > 0.8, pairs
    # hist 7 vs batch 7 share nothing: never emitted
    assert (7, 7) not in pairs


def test_connected_components_selfloop_paths_agree(spark):
    """Self-loop edges must yield the SAME relation from the driver
    union-find fast path and the distributed pointer-doubling path —
    previously the answer depended on which side of driver_max_pairs the
    input landed."""
    from sparkgraft.ext import dedup

    edges = spark.createDataFrame(
        [(1, 2), (3, 3), (2, 1)], "doc_a bigint, doc_b bigint"
    )
    fast = sorted(map(tuple, dedup.connected_components(edges).collect()))
    dist = sorted(
        map(tuple, dedup.connected_components(edges, driver_max_pairs=0).collect())
    )
    assert fast == dist == [(1, 1), (2, 1)]


def test_weighted_score_empty_and_null_text(spark, tmp_path):
    """Zero-token and NULL texts must score 0 on BOTH sides (DuckDB
    list_sum([]) is NULL — the oracle coalesces; the pandas UDF must not
    raise on a NULL token list)."""
    import duckdb

    from sparkgraft.registry import oracles, queries

    docs = spark.createDataFrame(
        [(1, "fast slow"), (2, ""), (3, "   "), (4, None)],
        "doc_id bigint, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r["score_centi"]
        for r in queries()["text_weighted_score"](spark, str(tmp_path)).collect()
    }
    assert got == {1: 30, 2: 0, 3: 0, 4: 0}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {
        r[0]: r[1] for r in con.execute(oracles()["text_weighted_score"]).fetchall()
    }
    assert oracle == got


def test_lsh_triangle_expansion_matches_direct_enumeration(spark, sf_dir):
    """lsh_triangle_counts (round 9) computes per-node triangle counts from
    per-CLASS closed forms over the content-class graph.  This test pins
    the expansion against DIRECT enumeration: build the node-level edge
    set from the declared semantics (identical vectors adjacent by
    definition; distinct contents adjacent iff same LSH bucket and
    cosine >= tau), feed it to the already-proven exact triangle_counts,
    and require identical per-node counts — on a duplicate-HEAVY fixture
    (planted twins and triplets) so all four closed-form terms
    (within-class, straddle, neighbor-pair, class-triangle) carry."""
    tau = 0.2
    base = (
        read_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(120)
        .select("vec_id", "embedding")
    )
    # plant duplicates: ids 0..39 get one twin, ids 0..14 get a second
    # (classes of multiplicity 1, 2 and 3)
    dup1 = base.where(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    dup2 = base.where(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 20_000).alias("vec_id"), "embedding"
    )
    emb = base.unionAll(dup1).unionAll(dup2)

    got = {
        (r.node, r.n_triangles)
        for r in simsearch.lsh_triangle_counts(emb, threshold=tau).collect()
    }

    # direct node-level edges (the declared semantics, no class shortcut):
    # tiny fixture, so the quadratic cross join is fine here
    a = emb.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
        F.expr(simsearch.bucket_sql("embedding")).alias("ba"),
    )
    b = emb.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
        F.expr(simsearch.bucket_sql("embedding")).alias("bb"),
    )
    edges = (
        a.crossJoin(b)
        .where(F.col("ia") < F.col("ib"))
        .where(
            (F.col("va") == F.col("vb"))
            | (
                (F.col("ba") == F.col("bb"))
                & (F.expr(simsearch.cosine_sql("va", "vb")) >= F.lit(tau))
            )
        )
        .select(F.col("ia").alias("vec_a"), F.col("ib").alias("vec_b"))
    )
    expected = {
        (r.node, r.n_triangles)
        for r in simsearch.triangle_counts(edges).collect()
    }
    assert expected  # fixture sanity: the graph actually has triangles
    assert got == expected
    # and duplicates genuinely participate (a planted twin holds triangles)
    assert any(node >= 10_000 for node, _ in got)


# ---------------------------------------------------------------------------
# round 10: fit/apply split + cached index artifacts
# ---------------------------------------------------------------------------

def test_kmeans_fit_apply_matches_fused(spark, sf_dir):
    """kmeans_fit + kmeans_assign(centroids=...) must be bit-identical to
    the fused train-and-assign call — the cached-artifact path serves the
    same plan the per-call trainer would have produced.  Also pins that a
    JSON round-trip of the artifact (what catalog.cached_index persists)
    changes nothing: micro-unit ints survive serialization exactly."""
    import json

    emb = read_table(spark, sf_dir, "embeddings")
    fused = simsearch.kmeans_assign(emb, k=4, iters=3).collect()
    cents = simsearch.kmeans_fit(emb, k=4, iters=3)
    roundtrip = json.loads(json.dumps(cents))
    assert roundtrip == cents
    split = simsearch.kmeans_assign(emb, k=4, iters=3, centroids=roundtrip).collect()
    assert sorted(split) == sorted(fused)


def test_kmeans_assign_rejects_wrong_shape_artifact():
    """A cached artifact from different params must fail loudly, not
    mis-assign (the cached_index params key exists to prevent this, but
    the operator double-checks)."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shape mismatch"):
        simsearch._check_centroid_shape([[1, 2]], 4, 64, "kmeans_assign")


def test_pq_fit_apply_matches_fused(spark, sf_dir):
    """pq_fit + pq_topk(codebook=...) == fused pq_topk, through a JSON
    round-trip; the codebook path must also skip the seed precondition
    (only query anchors are read)."""
    import json

    emb = read_table(spark, sf_dir, "embeddings")
    fused = simsearch.pq_topk(emb).collect()
    book = simsearch.pq_fit(emb)
    book = json.loads(json.dumps(book))
    split = simsearch.pq_topk(emb, codebook=book).collect()
    assert sorted(split) == sorted(fused)

    with __import__("pytest").raises(ValueError, match="codebook artifact shape"):
        simsearch.pq_topk(emb, codebook=[[[1]]]).collect()


def test_ivf_topk_accepts_trained_centroids(spark, sf_dir):
    """ivf_topk with kmeans-trained centroids (micro-units scaled back to
    doubles — the cached_index serving path) produces a valid top-k
    relation: per-query k results max, exact cosine scores, and the cells
    actually partition (result differs from or equals the seeded-literal
    variant without error)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = simsearch.kmeans_fit(emb, k=4, iters=2)
    dbl = [[c / 1_000_000.0 for c in row] for row in cents]
    out = simsearch.ivf_topk(
        emb, F.col("vec_id") < 4, k=3, centroids=dbl
    ).collect()
    assert out, "trained-centroid IVF returned nothing"
    per_q = {}
    for r in out:
        per_q.setdefault(r.qid, []).append(r)
    assert all(len(v) <= 3 for v in per_q.values())
