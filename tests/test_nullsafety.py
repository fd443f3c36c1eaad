"""Null/empty-input safety of the vectorized dedup + similarity paths.

Crawled corpora routinely carry NULL text (fetch errors, non-HTML) and
NULL embeddings (un-embedded rows); empty Arrow batches occur on any
partition that filters to nothing. Each UDF must behave like the native
expression form it replaced: NULL in → NULL out, no crash, and null-keyed
band rows never produce candidate pairs (equi-joins drop null keys).
"""

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def docs_with_nulls(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, None),
        (3, None),
        (4, ""),
        (5, "completely different text about spark dataframes and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vecs_with_nulls(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.1]),
        (1, [1.0, 0.01, 0.0, 0.1]),
        (2, None),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, None),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_simhash_null_text(docs_with_nulls):
    from walker_spark.operators.dedup import simhash_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs_with_nulls, max_hamming=6).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p or 3 in p for p in pairs)  # null docs pair with nothing


def test_minhash_lsh_null_text(docs_with_nulls):
    from walker_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_with_nulls, jaccard_threshold=0.7).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p or 3 in p for p in pairs)


def test_minhash_buckets_udf_null_row(spark):
    from walker_spark.operators.dedup import minhash_buckets_udf

    df = spark.createDataFrame(
        [(0, [1, 2, 3]), (1, None)], "id long, sh array<long>"
    )
    out = df.select(minhash_buckets_udf(8, 4)(F.col("sh")).alias("b")).collect()
    assert out[0]["b"] is not None and out[1]["b"] is None


def test_embedding_near_dup_null_vectors(vecs_with_nulls):
    from walker_spark.operators.similarity import embedding_near_dup_pairs

    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(vecs_with_nulls, threshold=0.9).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p or 4 in p for p in pairs)


def test_lsh_topk_null_and_empty(spark, vecs_with_nulls):
    from walker_spark.operators.similarity import lsh_cosine_topk

    q = vecs_with_nulls.filter(F.col("vec_id") == 0)
    rows = lsh_cosine_topk(vecs_with_nulls, q, k=3).collect()
    assert all(r["neighbor_id"] not in (2, 4) for r in rows)
    assert any(r["neighbor_id"] == 1 for r in rows)

    # empty corpus → empty Arrow batches through the banding UDF
    empty = vecs_with_nulls.filter(F.col("vec_id") < 0)
    assert lsh_cosine_topk(empty, q, k=3).count() == 0


def test_ivf_null_vectors_in_probe_set(spark):
    """_cell_cos_udf must tolerate NULL embeddings in the query side."""
    from walker_spark.operators.similarity import ivf_cosine_topk

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5 * (i % 2), 0.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0]), (1, None)],
        "vec_id long, embedding array<float>",
    )
    rows = ivf_cosine_topk(corpus, queries, k=3, n_cells=3, n_probe=2).collect()
    assert {r["query_id"] for r in rows} == {0}  # null query yields no rows


def test_resume_rejects_old_manifest(spark, tmp_ckpt):
    """Pre-fusion manifests (no frontier_dir/seen_dirs) must fail with a
    clear incompatible-version error, not a KeyError."""
    import os

    from walker_spark.config import CrawlConfig, Target
    from walker_spark.plans.crawl import Crawler
    from walker_spark.sources.tables import atomic_write_json

    pages = spark.createDataFrame([("https://a.example/", b"<html></html>")], "url string, html binary")
    conf = CrawlConfig(target=Target(base_url="https://a.example", paths=["/"]))
    crawler = Crawler(
        spark, conf, pages=pages, robots_bodies={}, checkpoint_dir=tmp_ckpt,
        seeds=["https://a.example/"],
    )
    atomic_write_json(os.path.join(tmp_ckpt, "manifest.json"), {"round": 2, "frontier_rows": 10})
    with pytest.raises(RuntimeError, match="incompatible checkpoint version"):
        crawler.run(resume=True)


def test_minhash_eager_releases_cache(spark, docs_with_nulls):
    """minhash_lsh_pairs must leave no persisted RDDs behind once the
    result is materialized (ADVICE: bench/loop callers invoke repeatedly)."""
    from walker_spark.operators.dedup import minhash_lsh_pairs

    before = {rdd_id for rdd_id, _ in spark.sparkContext._jsc.getPersistentRDDs().items()}
    res = minhash_lsh_pairs(docs_with_nulls, jaccard_threshold=0.7)
    res.count()
    after = spark.sparkContext._jsc.getPersistentRDDs()
    # the only new persisted blocks may be the localCheckpoint of the
    # (tiny) result itself — the band-join candidate cache must be gone
    import py4j

    leaked = []
    for rdd_id in after:
        if rdd_id in before:
            continue
        try:
            name = after[rdd_id].name() or ""
        except py4j.protocol.Py4JError:
            name = ""
        leaked.append((rdd_id, name))
    # localCheckpointed result RDDs are acceptable; persisted shuffle
    # plans (the pair_ids cache) are not. pair_ids was a Dataset persist,
    # which registers as an InMemoryTableScan — assert none remain.
    assert not any("InMemory" in name for _, name in leaked), leaked
