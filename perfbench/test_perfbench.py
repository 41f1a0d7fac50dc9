"""Tests of the benchmark's own parts: the seeded generator, the Python
twins the output checks rely on, and the percentile helper.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from perfbench import gen, twin


def _stream(seed: int) -> tuple[bytes, list]:
    g = gen.Generator(seed)
    base = g.batch(120)
    keys = sorted({r.record["case_number"] for r in base if r.label is None})
    reqs = g.requests(50, keys, [2020, 2021], g.hot_set()) + g.requests(50, keys, [2020], [], set())
    return gen.dump_batch(base), reqs


def test_generator_is_deterministic_per_seed():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)


def test_generator_labels_and_shape():
    g = gen.Generator(3)
    rows = g.batch(2000)
    labels = {r.label for r in rows}
    assert labels == {None} | {code for code, _ in gen.DEFECTS}
    lengths = [len(r.record["docket_text"]) for r in rows]
    assert max(lengths) <= 16_000 + 64 and min(lengths) == 0
    n_chunks = [len(twin.chunks(r.record["docket_text"])) for r in rows]
    assert min(n_chunks) == 0 and max(n_chunks) >= 8
    good = [r.record["case_number"] for r in rows if r.label is None]
    assert len(set(good)) < len(good)  # duplicate keys within the batch
    words = " ".join(r.record["docket_text"] for r in rows[:200]).split()
    assert words.count(g.vocab[0]) > 10 * words.count(g.vocab[100]) > 0  # Zipf head


def test_model_counts_follow_labels():
    g = gen.Generator(5)
    m = gen.Model()
    base = g.batch(300)
    c1 = m.expect_ingest(base)
    assert c1["inserted"] + c1["updated"] + c1["failed"] == c1["read"] == 300
    assert c1["failed"] == sum(m.quarantine_codes(base).values())
    assert c1["updated"] > 0  # duplicate keys count as updates
    again = m.expect_ingest(base)  # re-ingesting a file updates every good row
    assert again["inserted"] == 0 and again["updated"] == c1["inserted"] + c1["updated"]


def test_hot_stream_repeats_one_search_in_three():
    g = gen.Generator(9)
    hot = g.hot_set()
    searches = [r for r in g.requests(600, ["k"], [2020], hot) if r["kind"] == "search"]
    assert all((r in hot) == (i % 3 == 1) for i, r in enumerate(searches))
    seen = {r["query"] for r in hot}
    distinct = [r["query"] for r in g.requests(600, ["k"], [2020], [], seen) if r["kind"] == "search"]
    assert len(distinct) == len(set(distinct)) and not {r["query"] for r in hot} & set(distinct)


def test_percentile_matches_numpy():
    rng = random.Random(11)
    for n in (1, 2, 5, 10, 101):
        xs = [rng.random() * 100 for _ in range(n)]
        for q in (0, 10, 25, 50, 75, 90, 100):
            assert twin.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)), rel=1e-12, abs=1e-12)
    assert twin.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        twin.percentile([], 50)


def test_recall_tolerates_ties():
    best = {"a": 0.9, "b": 0.8, "c": 0.8, "d": 0.1}
    assert twin.recall_at_k(["a", "c"], best, 2) == 1.0
    assert twin.recall_at_k(["a", "d"], best, 2) == 0.5


@pytest.fixture(scope="module")
def spark():
    from legal_data_ingestion_rag_pipeline_spark.session import build_session

    return build_session("perfbench-tests")


def test_twins_match_spark_bit_for_bit(spark):
    from legal_data_ingestion_rag_pipeline_spark.functions.chunking import chunk_text
    from legal_data_ingestion_rag_pipeline_spark.plans.rag import HashEmbedder

    g = gen.Generator(13)
    texts = [r.record["docket_text"] for r in g.batch(60)] + ["  Motion  to\tDISMISS\n", "", "a" * 2500]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {(r.doc_id, r.chunk_id): r.chunk_text for r in chunk_text(docs, "text").collect()}
    want = {(i, j): c for i, t in enumerate(texts) for j, c in enumerate(twin.chunks(t))}
    assert got == want

    sample = [want[k] for k in sorted(want)][:80] + ["", "x", g.query(random.Random(1))]
    df = spark.createDataFrame(list(enumerate(sample)), "i long, t string")
    rows = sorted(HashEmbedder().embed(df, "t").collect(), key=lambda r: r.i)
    emb = twin.Embedder()
    for r in rows:
        assert list(r.embedding) == emb.embed(sample[r.i])


def test_fold_dot_matches_spark(spark):
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT

    rng = np.random.default_rng(3)
    m = rng.random((20, twin.DIM))
    q = rng.random(twin.DIM)
    df = spark.createDataFrame([(i, m[i].tolist(), q.tolist()) for i in range(20)], "i long, a array<double>, b array<double>")
    got = [r.s for r in df.selectExpr("i", f"{PT.dot_double('a', 'b', PT.SPARK)} AS s").orderBy("i").collect()]
    assert got == twin.fold_dot(m, q).tolist()


def test_dimension_twins_match_spark(spark):
    from legal_data_ingestion_rag_pipeline_spark.functions import normalize as N
    from legal_data_ingestion_rag_pipeline_spark.functions.parties import explode_parties

    recs = [r.record for r in gen.Generator(17).batch(200)]
    df = spark.createDataFrame([(i, r["parties"], r["court"], r["judge"]) for i, r in enumerate(recs)],
                               "i long, parties string, court string, judge string")
    got = sorted((r.i, r.party_name, r.np, r.role)
                 for r in explode_parties(df).withColumn("np", N.normalize_party("party_name")).collect())
    want = sorted((i, n, gen.normalize_party(n), role) for i, r in enumerate(recs) for n, role in gen.parse_parties(r["parties"]))
    assert got == want
    rows = df.select("i", N.normalize_court("court").alias("c"), N.normalize_judge("judge").alias("j")).collect()
    for r in rows:
        assert r.c == gen.normalize_court(recs[r.i]["court"])
        assert (r.j or None) == gen.normalize_judge(recs[r.i]["judge"])
