"""Training-data ops: textstats, dedup family, ANN, multimodal plumbing."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dvx.ops import textstats as tx
from dvx.ops.dedup import (
    embedding_near_dups,
    exact_dedup,
    jaccard_pairs,
    lsh_pairs,
    minhash_signatures,
    shingles,
    simhash,
)
from dvx.ops.multimodal import extract_features, frame_sample, synthetic_media
from dvx.ops.similarity import brute_force_topk, ivf_ann, lsh_ann


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()


def test_text_stats_duckdb_parity(spark, docs, sf_dir):
    got = {
        r.doc_id: r
        for r in tx.text_stats(docs).collect()
    }
    con = duckdb.connect()
    sql = f"""
      select doc_id, {tx.sql_ws_token_count()} as ws_tokens,
             {tx.sql_lexer_token_count()} as lex_tokens,
             {tx.sql_stopword_hits()} as stop_hits,
             {tx.sql_punct_count()} as punct,
             {tx.sql_quality_score()} as quality,
             {tx.sql_lang_id()} as lang_pred,
             {tx.sql_fingerprint()} as fp
      from '{sf_dir}/documents.parquet'
    """
    for row in con.execute(sql).fetchall():
        doc_id, ws, lex, stop, punct, quality, lang, fp = row
        g = got[doc_id]
        assert g.ws_tokens == ws
        assert g.lex_tokens == lex
        assert g.stop_hits == stop
        assert g.punct == punct
        assert abs(g.quality - quality) < 1e-9
        assert g.lang_pred == lang
        assert g.fp == fp


def test_exact_dedup_groups(spark, docs):
    d = exact_dedup(docs)
    assert d.count() <= docs.count()
    assert d.agg(F.sum("n_dups")).first()[0] == docs.count()


def test_shingle_minhash_lsh_finds_self_dups(spark, docs):
    # append exact copies of 5 docs with new ids; LSH must pair them up
    copies = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(copies)
    sh = shingles(both)
    sigs = minhash_signatures(sh, num_hashes=8)
    pairs = lsh_pairs(sigs, num_hashes=8, bands=4)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    for r in docs.limit(5).select("doc_id").collect():
        assert (r.doc_id, r.doc_id + 100000) in found


def test_lsh_hot_bucket_guard_drops_degenerate_bucket(spark, docs):
    """A pathological all-identical corpus lands every doc in one band
    bucket; with max_bucket below the corpus size the bucket is dropped
    (no quadratic pair blowup) and the job finishes with zero pairs."""
    one = docs.limit(1).select("text")
    corpus = (
        spark.range(200)
        .select(F.col("id").cast("int").alias("doc_id"))
        .crossJoin(F.broadcast(one))
    )
    sigs = minhash_signatures(shingles(corpus), num_hashes=8)
    capped = lsh_pairs(sigs, num_hashes=8, bands=4, max_bucket=50)
    assert capped.count() == 0
    # sanity: with the cap above the corpus size the pairs come back
    uncapped = lsh_pairs(sigs, num_hashes=8, bands=4, max_bucket=500)
    assert uncapped.count() == 200 * 199 // 2


def test_jaccard_exact_pairs(spark, docs):
    copies = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    sh = shingles(docs.unionByName(copies))
    pairs = jaccard_pairs(sh, threshold=0.99, max_df=1000)
    found = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    for r in docs.limit(3).select("doc_id").collect():
        assert found.get((r.doc_id, r.doc_id + 100000)) == 1.0


def test_simhash_stable_and_near_for_dups(spark, docs):
    copies = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    sh = shingles(docs.unionByName(copies))
    sims = {r.doc_id: r.simhash for r in simhash(sh).collect()}
    for r in docs.limit(3).select("doc_id").collect():
        assert sims[r.doc_id] == sims[r.doc_id + 100000]
        assert len(sims[r.doc_id]) == 32


def test_embedding_near_dups_finds_planted(spark, emb):
    planted = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(planted)
    pairs = embedding_near_dups(both, threshold=0.999999)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for r in emb.limit(3).select("vec_id").collect():
        assert (r.vec_id, r.vec_id + 100000) in found


def test_near_dups_lsh_matches_brute_force_at_contract_settings(spark, emb):
    """The PRODUCT near-dup path (LSH candidates -> exact re-rank) must
    return exactly the brute-force pair set at the contract settings
    (threshold 0.4, 2 planes x 12 tables — deterministic md5 planes, so
    this is a fixed property of the fixture, not a flaky sample)."""
    from dvx.ops.dedup import near_dups_lsh

    bf = {
        (r.id_a, r.id_b, r.cos)
        for r in embedding_near_dups(emb, threshold=0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos)
        for r in near_dups_lsh(
            emb, threshold=0.4, num_planes=2, num_tables=12, dim=64
        ).collect()
    }
    assert bf, "fixture must contain near-dup pairs at 0.4"
    assert lsh == bf
    # fewer tables => a strict subset (candidates only shrink)
    fewer = {
        (r.id_a, r.id_b, r.cos)
        for r in near_dups_lsh(
            emb, threshold=0.4, num_planes=2, num_tables=2, dim=64
        ).collect()
    }
    assert fewer <= bf


def test_near_dups_lsh_hot_bucket_guard(spark, emb):
    """max_bucket=1 drops every bucket with >= 2 members, so NO pairs
    can be emitted — the O(n²) degenerate-bucket path is provably off."""
    from dvx.ops.dedup import near_dups_lsh

    out = near_dups_lsh(
        emb, threshold=0.0, num_planes=2, num_tables=2, dim=64, max_bucket=1
    )
    assert out.count() == 0


def test_brute_force_topk_shapes_and_self_exclusion(spark, emb):
    queries = emb.limit(4)
    res = brute_force_topk(emb, queries, k=5)
    rows = res.collect()
    assert len(rows) == 4 * 5
    assert all(r.neighbor_id != r.query_id for r in rows)
    # ranks are 1..5 per query, cosine non-increasing
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3, 4, 5]
        assert all(rs[i].cos >= rs[i + 1].cos for i in range(4))


def test_lsh_ann_recall_vs_brute_force(spark, emb):
    # random 64-dim embeddings are near-orthogonal, so few planes: the
    # hyperplanes are md5-deterministic => recall is a fixed number on
    # this fixture, not a flaky sample
    queries = emb.limit(8)
    exact = brute_force_topk(emb, queries, k=3)
    approx = lsh_ann(emb, queries, k=3, num_planes=2)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(e & a) >= len(e) // 4
    # every approximate hit carries the exact cosine (re-rank is exact)
    cos_e = {(r.query_id, r.neighbor_id): r.cos for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in cos_e:
            assert r.cos == cos_e[(r.query_id, r.neighbor_id)]


def test_lsh_banding_improves_recall(spark, emb):
    # more signature tables => strictly more candidate pairs => recall
    # monotonically non-decreasing, and strictly better on this fixture
    queries = emb.limit(8)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()}
    one = {(r.query_id, r.neighbor_id) for r in lsh_ann(emb, queries, k=3, num_planes=4, num_tables=1).collect()}
    four = {(r.query_id, r.neighbor_id) for r in lsh_ann(emb, queries, k=3, num_planes=4, num_tables=4).collect()}
    assert len(exact & four) > len(exact & one)
    assert len(exact & four) >= len(exact) // 3  # 9/24 on this fixture


def test_ivf_multiprobe_beats_single_bucket(spark, emb):
    queries = emb.limit(8)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()}
    single = {(r.query_id, r.neighbor_id) for r in lsh_ann(emb, queries, k=3, num_planes=2).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in ivf_ann(emb, queries, k=3, num_planes=2, n_probes=3).collect()}
    assert len(exact & multi) > len(exact & single)  # 21 vs 8 on this fixture
    assert len(exact & multi) >= len(exact) * 3 // 5


def test_multimodal_features(spark):
    media = synthetic_media(spark, 32)
    feats = extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == 32
    assert all(len(r.feature) == 16 for r in rows)
    # deterministic across runs
    again = {r.media_id: r.feature for r in extract_features(media, dim=16).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_multimodal_strict_mode_marks_missing_codec(spark):
    media = synthetic_media(spark, 4)
    with pytest.raises(Exception, match="codecs.*not installed"):
        extract_features(media, strict_codecs=True).collect()


def test_frame_sample_explodes(spark):
    media = synthetic_media(spark, 6)
    frames = frame_sample(media, every_n=2)
    rows = frames.collect()
    assert len(rows) == 6 * 2  # frames 0 and 2 of 4
    assert {r.frame_idx for r in rows} == {0, 2}


@pytest.mark.slow
def test_lsh_recall_floor_planted_corpus(spark):
    # floor pinned from the 10^5 campaign (bench/recall_lsh.py,
    # bench/RECALL_r05.json: planted-ANN 0.998 @ (8,4), pair recall 1.0
    # at the product default) — smaller corpus here, same generator,
    # seed-pure so the number is deterministic, not a flaky sample
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "bench"))
    import numpy as np
    from recall_lsh import make_corpus

    from dvx.ops.dedup import near_dups_lsh
    from dvx.ops.similarity import brute_force_topk, lsh_ann

    n, nq, k = 10_000, 50, 10
    step = (n - nq * k) // nq
    qids = np.arange(nq, dtype=np.int64) * step
    emb = make_corpus(
        spark, n, planted_dups=nq * k, dup_sources=np.repeat(qids, k)
    ).persist()
    queries = emb.join(
        spark.createDataFrame([(int(i),) for i in qids], "vec_id long"),
        "vec_id", "left_semi",
    )
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=k).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann(emb, queries, k=k, num_planes=8, num_tables=4).collect()
    }
    assert len(got & truth) / len(truth) >= 0.95

    # the campaign corpus exactly (recall measured 1.0 there): boundary
    # pairs at cos ~0.92 make smaller corpora noisier than the pin
    nd = make_corpus(spark, 5_000, seed=11, planted_dups=500).persist()
    a, b = nd.alias("a"), nd.alias("b")
    from dvx.ops.similarity import cosine

    brute_pairs = {
        (r.ia, r.ib)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cosine(F.col("a.embedding"), F.col("b.embedding")))
        .filter(F.col("cos") >= 0.92)
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
        .collect()
    }
    got_pairs = {
        (r.id_a, r.id_b)
        for r in near_dups_lsh(
            nd, threshold=0.92, num_planes=8, num_tables=4
        ).collect()
    }
    assert len(got_pairs & brute_pairs) / max(1, len(brute_pairs)) >= 0.98
    emb.unpersist()
    nd.unpersist()


def test_widen_partitions_follows_the_size_estimate(spark, tmp_path, monkeypatch):
    """A one-file input estimated under ``defaultParallelism`` full scan
    splits is spread over ``defaultParallelism`` tasks; one estimated at
    that many splits is returned as is."""
    import dvx.ops.util as util

    path = str(tmp_path / "one_file")
    spark.range(20000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("text")
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    wide = util.widen_partitions(df)
    assert wide.rdd.getNumPartitions() == target
    assert wide.count() == 20000

    size = sum(p.stat().st_size for p in tmp_path.joinpath("one_file").glob("*.parquet"))
    monkeypatch.setattr(util, "MAX_PARTITION_BYTES", size // target)
    assert util.widen_partitions(df) is df
