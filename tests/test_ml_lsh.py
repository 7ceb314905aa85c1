"""Recall gates for the pyspark.ml LSH variants: no DuckDB oracle exists
(JVM hash families), so we pin them against the exact-pair operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkgraft.ext import dedup, ml_lsh, simsearch
from sparkgraft.io.readers import read_table


def test_ml_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in ml_lsh.ml_minhash_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture must contain planted near-dups"
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"recall {recall}: missed {sorted(exact - got)[:5]}"
    # precision guard: hashed-shingle Jaccard can drift a little around the
    # threshold, but candidates must still be near-dups, not noise
    extra = got - exact
    assert len(extra) <= max(2, len(exact)), f"too many spurious pairs: {len(extra)}"


def test_shared_shingle_relation_is_bit_identical(spark, sf_dir):
    """The r14 single-tokenize optimization: the ml_minhash_pairs audit
    lane materializes ONE doc_shingles relation and feeds it to both the
    exact-Jaccard side and the Spark-ML side.  Both must emit exactly the
    rows their standalone (re-tokenizing) forms emit."""
    docs = read_table(spark, sf_dir, "documents")
    ds = dedup.doc_shingles(docs).localCheckpoint(eager=True)

    base_exact = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect())
    )
    shared_exact = sorted(
        map(
            tuple,
            dedup.ngram_jaccard_pairs(docs, threshold=0.5, shingles=ds).collect(),
        )
    )
    assert base_exact == shared_exact

    base_ml = sorted(
        map(tuple, ml_lsh.ml_minhash_pairs(docs, threshold=0.5).collect())
    )
    shared_ml = sorted(
        map(
            tuple,
            ml_lsh.ml_minhash_pairs(docs, threshold=0.5, shingles=ds).collect(),
        )
    )
    assert base_ml == shared_ml


def test_shingles_without_doc_sh_columns_rejected(spark):
    """A precomputed shingle relation must carry doc_shingles' columns;
    anything else is refused up front instead of failing inside a plan."""
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    wrong = dedup.doc_shingles(docs).withColumnRenamed("sh", "shingle")
    with pytest.raises(ValueError, match="doc, sh"):
        dedup.ngram_jaccard_pairs(docs, shingles=wrong)


def test_ml_ann_topk_overlaps_brute_force(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    brute = (
        simsearch.brute_force_topk(emb, F.col("vec_id") == 0, k=10)
        .select("cid")
        .collect()
    )
    got = ml_lsh.ml_ann_neighbors(emb, query_vec_id=0, k=10).collect()
    assert len(got) == 10
    overlap = {r.vec_id for r in got} & {r.cid for r in brute}
    # embeddings are unit-norm: euclidean rank == cosine rank; LSH recall
    # at 4 tables should capture most of the true top-10
    assert len(overlap) >= 6, f"only {len(overlap)}/10 overlap with brute force"
