"""LLM-data pipeline operators: planted-duplicate recovery, similarity
ground truth vs numpy, text-analysis formulas, multimodal plumbing."""

import hashlib
import math
import random

import pytest
from pyspark.sql import functions as F

from seafan_spark.llmops.dedup import (
    drop_exact_dups,
    embedding_neardup_pairs,
    exact_dedup,
    hamming_distance_col,
    minhash_clusters,
    minhash_pairs,
    ngram_jaccard_pairs,
    simhash_bits_col,
    simhash_pairs,
)
from seafan_spark.llmops.similarity import ann_brute_topk, ann_lsh_topk, cosine_col
from seafan_spark.llmops.text import (
    avg_token_len_col,
    fingerprint_col,
    lang_id_col,
    punct_ratio_col,
    quality_score_col,
    shingles_col,
    token_count_col,
    word_ngrams_col,
)
from seafan_spark.llmops import multimodal
from seafan_spark.pipeline import Pipeline
from seafan_spark.sources import vec_to_pipe


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)


@pytest.fixture(scope="module")
def doc_pipe(spark):
    rnd = random.Random(5)
    words = BASE.split()
    docs, ids = [], []
    for i in range(30):
        w = list(words)
        rnd.shuffle(w)
        docs.append(" ".join(w[: rnd.randint(10, 20)]) + f" unique{i}")
        ids.append(i)
    # plant: 40/41 exact dup of 0; 42 near-dup of 1 (one word changed)
    docs += [docs[0], "  " + docs[0].upper() + "  ", docs[1].replace("unique1", "unique1x")]
    ids += [40, 41, 42]
    return vec_to_pipe(spark, {"doc_id": ids, "text": docs})


def test_exact_dedup(doc_pipe):
    marked = exact_dedup(doc_pipe, "text", "doc_id")
    dups = {r["doc_id"]: r["is_dup"] for r in marked.df.select("doc_id", "is_dup").collect()}
    assert dups[0] == 0.0 and dups[40] == 1.0 and dups[41] == 1.0  # normalized match
    assert dups[42] == 0.0  # near-dup is not exact
    kept = drop_exact_dups(doc_pipe, "text", "doc_id")
    assert kept.row_count() == 31


def test_minhash_recovers_planted_neardup(doc_pipe):
    pairs = minhash_pairs(doc_pipe, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 40) in got and got[(0, 40)] == 1.0  # exact dup
    assert (1, 42) in got and got[(1, 42)] > 0.6  # near dup
    # exact verification: NO unrelated pair can pass threshold .5
    assert all(a in (0, 1, 40, 41) or b in (40, 41, 42) for (a, b) in got)


def test_minhash_est_mode(doc_pipe):
    # signature-agreement verification (the store-only path): planted
    # exact dups estimate 1.0; borderline estimates are noisier than
    # exact mode by construction
    pairs = minhash_pairs(
        doc_pipe, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
        verify="est",
    )
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got[(0, 40)] == 1.0 and got[(0, 41)] == 1.0 and got[(40, 41)] == 1.0
    assert (1, 42) in got


def test_portable_and_fast_hash_modes_agree(doc_pipe):
    # the production (xxhash64) and oracle-parity (md5) base hashes must
    # recover the same planted duplicate structure; with exact
    # verification the surviving pairs' jaccard values are TRUE set
    # jaccards, so pairs found by both modes carry identical values
    # (hash only affects banding recall, not the verified statistic)
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_pairs(
            doc_pipe, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
            portable=False,
        ).collect()
    }
    port = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_pairs(
            doc_pipe, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
            portable=True,
        ).collect()
    }
    # NOTE: full pair-set equality is NOT guaranteed — banding recall for
    # borderline pairs (true j in [0.5, ~0.9)) is independent per hash
    # mode. The contract: values agree wherever both band, and planted
    # dups (j ~ 1.0, which always band) appear in both.
    for key in set(fast) & set(port):
        assert fast[key] == port[key]
    for key in ((0, 40), (0, 41), (40, 41)):
        assert fast[key] == 1.0 and port[key] == 1.0
    # simhash: identical docs collapse to hamming 0 in both modes
    for mode in (False, True):
        sp = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_pairs(
                doc_pipe, "doc_id", "text", max_hamming=6, portable=mode
            ).collect()
        }
        assert sp[(0, 40)] == 0 and sp[(0, 41)] == 0


def test_minhash_signature_col_matches_bulk(doc_pipe):
    # the column-expression form must produce exactly the bulk
    # explode+groupBy signatures (same shingles, same mixers, same field)
    from seafan_spark.llmops.dedup import minhash_signature_col, minhash_signatures

    d = doc_pipe.df.limit(8)
    colform = {
        r["doc_id"]: list(r["sig"])
        for r in d.select(
            "doc_id", minhash_signature_col(F.col("text"), num_hashes=16).alias("sig")
        ).collect()
    }
    bulk = {
        r["_id"]: list(r["_sig"])
        for r in minhash_signatures(d, "doc_id", "text", num_hashes=16).collect()
    }
    assert colform == bulk and len(colform) == 8


def test_incremental_rejects_31bit_store(doc_pipe, spark):
    # a persisted store from the retired 31-bit scheme (all values < 2^31)
    # must be rejected loudly, not silently yield est_jaccard ~ 0
    from seafan_spark.llmops.dedup import minhash_pairs_incremental

    old_store = spark.createDataFrame(
        [(900 + i, [i * 1000 + j for j in range(32)]) for i in range(5)],
        "_id long, _sig array<bigint>",
    )
    with pytest.raises(ValueError, match="31-bit"):
        minhash_pairs_incremental(
            doc_pipe, old_store, "doc_id", "text", num_hashes=32, bands=4
        )


def test_minhash_calibration(doc_pipe):
    from seafan_spark.llmops.dedup import (
        minhash_calibration,
        minhash_calibration_summary,
    )

    cal = minhash_calibration(
        doc_pipe, "doc_id", "text", num_hashes=64, sample_docs=33
    )
    rows = {(r["id_a"], r["id_b"]): r for r in cal.collect()}
    # all pairs of the sample are present exactly once
    n = len({i for (a, b) in rows for i in (a, b)})
    assert len(rows) == n * (n - 1) // 2
    # planted exact dups (0/40/41 normalize identically): if sampled
    # together, both statistics are exactly 1.0 and the error is 0
    for key, r in rows.items():
        if key in ((0, 40), (0, 41), (40, 41)):
            assert r["jaccard"] == 1.0 and r["est_jaccard"] == 1.0
            assert r["abs_err"] == 0.0
        assert 0.0 <= r["jaccard"] <= 1.0 and 0.0 <= r["est_jaccard"] <= 1.0
        assert abs(abs(r["est_jaccard"] - r["jaccard"]) - r["abs_err"]) < 2e-6
    summ = minhash_calibration_summary(cal, threshold=0.5).collect()[0]
    assert summ["pairs"] == len(rows)
    # per-pair expectation is unbiased: on this fixture the mean estimate
    # must track the mean true jaccard within estimator noise
    assert abs(summ["bias"]) < 0.12
    fp = sum(
        1 for r in rows.values() if r["est_jaccard"] >= 0.5 and r["jaccard"] < 0.5
    )
    assert summ["false_pos"] == fp


def test_minhash_clusters(doc_pipe):
    pairs = minhash_pairs(doc_pipe, "doc_id", "text", threshold=0.5)
    labels = {r["id"]: r["cluster"] for r in minhash_clusters(pairs).collect()}
    assert labels[40] == 0 and labels[41] == 0 and labels[0] == 0
    assert labels[42] == 1


def test_minhash_clusters_distributed_matches_driver(doc_pipe, monkeypatch):
    # an edge cap of 0 forces the distributed hook-and-jump loop; it must
    # produce exactly the union-find fast path's labels
    from seafan_spark.llmops import dedup

    pairs = minhash_pairs(doc_pipe, "doc_id", "text", threshold=0.5)
    drv = {(r["id"], r["cluster"]) for r in minhash_clusters(pairs).collect()}
    monkeypatch.setattr(dedup, "CLUSTER_DRIVER_EDGE_CAP", 0)
    dist = {(r["id"], r["cluster"]) for r in minhash_clusters(pairs).collect()}
    assert drv == dist and len(drv) > 0


def test_clusters_distributed_long_chain(spark, monkeypatch):
    # a 9-node path graph exercises pointer jumping past max_iter plain
    # propagation depth: component min must reach the far end
    from seafan_spark.llmops import dedup

    monkeypatch.setattr(dedup, "CLUSTER_DRIVER_EDGE_CAP", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = {r["id"]: r["cluster"] for r in minhash_clusters(edges, max_iter=6).collect()}
    assert out == {i: 0 for i in range(10)}


def test_ngram_jaccard_exact(spark):
    a = "one two three four five six seven"
    b = "one two three four five six eight"  # shares 4 of the 5+5 trigram set
    p = vec_to_pipe(spark, {"doc_id": [1, 2, 3], "text": [a, b, "totally different words here now"]})
    pairs = ngram_jaccard_pairs(p, "doc_id", "text", n=3, threshold=0.1)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    # trigrams: a has 5, b has 5, intersection 4 -> 4/6
    assert got == {(1, 2): pytest.approx(4 / 6, abs=1e-6)}


def test_simhash(spark, doc_pipe):
    pairs = simhash_pairs(doc_pipe, "doc_id", "text", max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 40) in got and (0, 41) in got and (40, 41) in got
    # identical docs -> hamming 0
    h = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert h[(0, 40)] == 0

    # one hot bucket: 300 near-identical docs (case/whitespace variants
    # the shingler normalizes away) share every chunk key, so the bucket
    # must stream all 300*299/2 pairs
    m = 300
    docs = [
        " " * (i % 3) + (BASE.upper() if i % 2 else BASE) for i in range(m)
    ]
    p = vec_to_pipe(spark, {"doc_id": list(range(m)), "text": docs})
    got = simhash_pairs(p, "doc_id", "text", max_hamming=6).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("hamming").alias("h"),
        F.sum((F.col("id_a") >= F.col("id_b")).cast("int")).alias("bad"),
    ).collect()[0]
    assert got["n"] == m * (m - 1) // 2 == 44_850
    assert got["h"] == 0 and got["bad"] == 0


def test_pairs_skip_null_ids(spark):
    """Rows with a NULL id are not documents: they must neither pair nor
    merge into one signature."""
    text = BASE + " shared tail"
    p = vec_to_pipe(
        spark, {"doc_id": [1, None, 2, None], "text": [text] * 4}
    )
    mh = minhash_pairs(p, "doc_id", "text", num_hashes=64, bands=16)
    assert [(r["id_a"], r["id_b"]) for r in mh.collect()] == [(1, 2)]
    sh = simhash_pairs(p, "doc_id", "text", max_hamming=6)
    assert [(r["id_a"], r["id_b"]) for r in sh.collect()] == [(1, 2)]


def test_hamming_col(spark):
    p = vec_to_pipe(spark, {"x": [1]})
    d = p.df.select(
        hamming_distance_col(
            F.array(F.lit(1), F.lit(0), F.lit(1)), F.array(F.lit(0), F.lit(0), F.lit(1))
        ).alias("h")
    )
    assert d.collect()[0]["h"] == 1


@pytest.fixture(scope="module")
def vec_pipe(spark):
    rnd = random.Random(9)
    ids, vecs = [], []
    for i in range(40):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        ids.append(i)
        vecs.append(v)
    # plant: 50 = copy of 0; 51 = slightly perturbed 1
    ids += [50, 51]
    vecs += [list(vecs[0]), [x + 0.01 for x in vecs[1]]]
    return vec_to_pipe(spark, {"vec_id": ids, "embedding": vecs}), ids, vecs


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_cosine_col_matches_numpy(vec_pipe):
    pipe, ids, vecs = vec_pipe
    d = pipe.df.select(cosine_col(F.col("embedding"), F.col("embedding")).alias("c"))
    for r in d.collect():
        assert r["c"] == pytest.approx(1.0)


def test_brute_topk_ground_truth(vec_pipe):
    pipe, ids, vecs = vec_pipe
    got = ann_brute_topk(pipe, "vec_id", "embedding", k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    # python ground truth for query 0
    sims = sorted(
        ((_cos(vecs[0], v), i) for i, v in zip(ids, vecs) if i != 0),
        key=lambda t: (-t[0], t[1]),
    )
    want = [i for _, i in sims[:3]]
    assert [n for _, n, _ in sorted(by_q[0])] == want
    assert by_q[0][0][1] == 50  # planted copy is nearest
    assert by_q[0][0][2] == pytest.approx(1.0)


def test_lsh_topk_finds_planted(vec_pipe):
    pipe, ids, vecs = vec_pipe
    got = ann_lsh_topk(pipe, "vec_id", "embedding", k=3, planes=6)
    rows = [(r["q_id"], r["neighbor_id"]) for r in got.collect()]
    assert (0, 50) in rows and (50, 0) in rows  # identical vectors share bucket


def test_ivf_topk_recall(vec_pipe):
    """IVF with full probing is exact (matches brute force); with partial
    probing it still finds the planted identical twin."""
    from seafan_spark.llmops.similarity import ann_ivf_topk

    pipe, ids, vecs = vec_pipe
    brute = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in ann_brute_topk(pipe, "vec_id", "embedding", k=3).collect()
    }
    full = {
        (r["q_id"], r["rank"]): r["neighbor_id"]
        for r in ann_ivf_topk(
            pipe, "vec_id", "embedding", k=3, n_centroids=4, n_probe=4
        ).collect()
    }
    assert full == brute  # probing every cell == exact
    part = ann_ivf_topk(pipe, "vec_id", "embedding", k=3, n_centroids=4, n_probe=1)
    rows = [(r["q_id"], r["neighbor_id"]) for r in part.collect()]
    assert (0, 50) in rows  # identical twin lands in the same cell


def test_embedding_utils(spark):
    import numpy as np

    from seafan_spark.llmops.similarity import (
        l2_normalize_col,
        mean_pool_col,
        random_projection_col,
    )

    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.normal(size=16)] for _ in range(40)]
    p = vec_to_pipe(spark, {"i": list(range(40))})
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["i", "v"]
    )
    norm = df.select("i", l2_normalize_col(F.col("v")).alias("nv")).collect()
    for r in norm:
        assert abs(sum(x * x for x in r["nv"]) - 1.0) < 1e-9
    # zero vector passes through
    z = spark.createDataFrame([(0, [0.0] * 4)], ["i", "v"])
    assert z.select(l2_normalize_col(F.col("v"))).collect()[0][0] == [0.0] * 4

    pooled = spark.createDataFrame(
        [(0, [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]])], ["i", "vs"]
    ).select(mean_pool_col(F.col("vs")).alias("m")).collect()[0]["m"]
    assert pooled == [3.0, 4.0]

    proj = df.select("i", random_projection_col(F.col("v"), 16, 4).alias("pv")).collect()
    mat = {r["i"]: r["pv"] for r in proj}
    assert all(len(v) == 4 for v in mat.values())
    # determinism across evaluations
    proj2 = df.select("i", random_projection_col(F.col("v"), 16, 4).alias("pv")).collect()
    assert mat == {r["i"]: r["pv"] for r in proj2}
    # JL property: norms roughly preserved on average (loose bound)
    import statistics

    ratios = [
        sum(x * x for x in mat[i]) / sum(x * x for x in vecs[i]) for i in range(40)
    ]
    assert 0.5 < statistics.mean(ratios) < 1.5


def test_embedding_neardup(vec_pipe):
    pipe, ids, vecs = vec_pipe
    pairs = embedding_neardup_pairs(pipe, "vec_id", "embedding", threshold=0.99, planes=8)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in pairs.collect()}
    assert got.get((0, 50)) == pytest.approx(1.0)
    assert (1, 51) in got


# ----------------------------------------------------------------- text ----
def test_token_and_ratios(spark):
    p = vec_to_pipe(spark, {"t": ["Hello, world!  two", "", "abc"]})
    d = p.ordered_df().select(
        token_count_col(F.col("t")).alias("n"),
        punct_ratio_col(F.col("t")).alias("pr"),
        avg_token_len_col(F.col("t")).alias("awl"),
    ).collect()
    assert [r["n"] for r in d] == [3, 0, 1]
    assert d[0]["pr"] == pytest.approx(2 / 18)
    assert d[2]["awl"] == pytest.approx(3.0)


def test_lang_id(spark):
    p = vec_to_pipe(
        spark,
        {
            "t": [
                "the cat and the dog of to in the house",
                "der hund und die katze ist das",
                "no stopwords whatsoever xyz",
            ]
        },
    )
    got = [r[0] for r in p.ordered_df().select(lang_id_col(F.col("t"))).collect()]
    assert got[0] == "en" and got[1] == "de" and got[2] == "und"


def test_quality_score_bounds(doc_pipe):
    vals = [
        r[0]
        for r in doc_pipe.df.select(quality_score_col(F.col("text"))).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_fingerprint_matches_md5(spark):
    p = vec_to_pipe(spark, {"t": ["  Hello   World  "]})
    got = p.df.select(fingerprint_col(F.col("t"))).collect()[0][0]
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_shingles_and_ngrams(spark):
    p = vec_to_pipe(spark, {"t": ["abcdef", "one two three four"]})
    sh = p.ordered_df().select(shingles_col(F.col("t"), k=3)).collect()
    assert sh[0][0] == ["abc", "bcd", "cde", "def"]
    ng = p.ordered_df().select(word_ngrams_col(F.col("t"), n=2)).collect()
    assert ng[1][0] == ["one two", "two three", "three four"]


def test_bpe_token_estimate(spark):
    from seafan_spark.llmops.text import bpe_token_estimate_col

    p = vec_to_pipe(
        spark,
        {"t": ["Hello world", "don't stop", "a1b2!!", "", "   ", "we're 42 dogs."]},
    )
    got = [r[0] for r in p.ordered_df().select(bpe_token_estimate_col(F.col("t"))).collect()]
    # "Hello"," world" -> 2 ; "don","'t"," stop" -> 3 ;
    # "a","1","b","2","!!" -> 5 ; blanks -> 0 ;
    # "we","'re"," 42"," dogs","." -> 5
    assert got == [2, 3, 5, 0, 0, 5]


def test_winnow_fingerprints(spark):
    from seafan_spark.llmops.text import winnow_fingerprints_col

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    docs = {
        "d": [base, base, "completely different text with no overlap at all ok", "tiny"],
    }
    p = vec_to_pipe(spark, docs)
    rows = [r[0] for r in p.ordered_df().select(winnow_fingerprints_col(F.col("d"))).collect()]
    # identical docs -> identical fingerprint sets
    assert rows[0] == rows[1] and len(rows[0]) > 0
    # unrelated docs share (almost) nothing
    assert len(set(rows[0]) & set(rows[2])) == 0
    # shorter than k still yields one fingerprint
    assert len(rows[3]) == 1
    # winnowing guarantee: a long shared substring yields shared fingerprints
    mutated = base[:40] + " SOMETHING ENTIRELY NEW AT THE END 12345"
    p2 = vec_to_pipe(spark, {"d": [base, mutated]})
    r2 = [r[0] for r in p2.ordered_df().select(winnow_fingerprints_col(F.col("d"))).collect()]
    assert len(set(r2[0]) & set(r2[1])) > 0


def test_contamination_check(spark):
    from seafan_spark.llmops.dedup import contamination_check

    bench_sent = "the seven wonders of the ancient world were built long ago"
    corpus = vec_to_pipe(
        spark,
        {
            "doc_id": [0, 1, 2],
            "text": [
                f"intro text then {bench_sent} then more filler afterwards ok",
                "completely unrelated content about cooking pasta with garlic and oil tonight",
                bench_sent,  # verbatim copy
            ],
        },
    )
    bench = vec_to_pipe(spark, {"bench_id": [100], "text": [bench_sent]})
    hits = contamination_check(corpus, bench, n=8).collect()
    got = {(r["doc_id"], r["bench_id"]): r["shared_ngrams"] for r in hits}
    assert (0, 100) in got and (2, 100) in got  # embedded + verbatim flagged
    assert (1, 100) not in got  # unrelated doc clean
    assert got[(2, 100)] >= got[(0, 100)]


def test_gram_bloom_filter_probe(spark):
    from seafan_spark.llmops.dedup import bloom_might_contain, gram_bloom_filter

    members = [f"gram number {i} present" for i in range(50)]
    outsiders = [f"absent gram {i} missing" for i in range(500)]
    gdf = spark.createDataFrame([(g,) for g in members], schema="_g: string")
    words, nbits = gram_bloom_filter(gdf, "_g")
    assert nbits >= 1024 and nbits & (nbits - 1) == 0  # power of two
    bfdf = spark.createDataFrame([(words,)], schema="_bf: array<long>")
    probe = spark.createDataFrame(
        [(g, True) for g in members] + [(g, False) for g in outsiders],
        schema="_g: string, member: boolean",
    )
    got = (
        probe.crossJoin(F.broadcast(bfdf))
        .select("_g", "member", bloom_might_contain(F.col("_bf"), nbits, F.col("_g")).alias("hit"))
        .collect()
    )
    # no false negatives, and FP rate well under 5% at 16 bits/item
    assert all(r["hit"] for r in got if r["member"])
    fps = sum(1 for r in got if r["hit"] and not r["member"])
    assert fps <= len(outsiders) * 0.05


def test_contamination_bloom_matches_exact(spark):
    from seafan_spark.llmops.dedup import contamination_check, contamination_check_bloom

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    exact = sorted(map(tuple, contamination_check(docs, bench, n=8).collect()))
    bloom = sorted(map(tuple, contamination_check_bloom(docs, bench, n=8).collect()))
    assert exact == bloom and len(exact) > 0


def test_repetition_ratio(spark):
    from seafan_spark.llmops.text import repetition_ratio_col

    p = vec_to_pipe(
        spark,
        {
            "t": [
                "a b c a b c a b c",  # "a b c" style repeats
                "one two three four five six seven",  # all distinct
                "x y",  # fewer than 3 tokens
            ]
        },
    )
    got = [
        round(r[0], 6)
        for r in p.ordered_df().select(repetition_ratio_col(F.col("t"))).collect()
    ]
    # 7 grams, distinct = {abc, bca, cab} = 3 -> 1 - 3/7
    assert got[0] == round(1 - 3 / 7, 6)
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_pii_counts_and_redact(spark):
    from seafan_spark.llmops.text import pii_count_col, redact_pii_col

    txt = "mail a@b.com or c.d+x@e.org, call +1 (555) 123-4567, host 10.0.0.1, ssn 123-45-6789"
    p = vec_to_pipe(spark, {"t": [txt, "clean text no pii"]})
    row = (
        p.ordered_df()
        .select(
            pii_count_col(F.col("t"), "email").alias("e"),
            pii_count_col(F.col("t"), "phone").alias("p"),
            pii_count_col(F.col("t"), "ipv4").alias("i"),
            pii_count_col(F.col("t"), "ssn").alias("s"),
            redact_pii_col(F.col("t")).alias("r"),
        )
        .collect()
    )
    assert (row[0]["e"], row[0]["i"], row[0]["s"]) == (2, 1, 1)
    assert row[0]["p"] >= 1
    assert "a@b.com" not in row[0]["r"] and "123-45-6789" not in row[0]["r"]
    assert (row[1]["e"], row[1]["p"], row[1]["i"], row[1]["s"]) == (0, 0, 0, 0)
    assert row[1]["r"] == "clean text no pii"


def test_tfidf_top_terms(spark):
    import math

    from seafan_spark.llmops.text import tfidf_top_terms

    docs = {
        "doc_id": [0, 1, 2],
        "text": [
            "apple banana apple",
            "banana cherry",
            "durian durian durian banana",
        ],
    }
    p = vec_to_pipe(spark, docs)
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["score"])
        for r in tfidf_top_terms(p, "doc_id", "text", k=2).collect()
    }
    def score(tf, df, n=3):
        return round(tf * (math.log((1 + n) / (1 + df)) + 1), 6)
    # doc0: apple tf=2 df=1 beats banana tf=1 df=3
    assert got[(0, 1)] == ("apple", score(2, 1))
    assert got[(0, 2)] == ("banana", score(1, 3))
    # doc2: durian tf=3 df=1
    assert got[(2, 1)] == ("durian", score(3, 1))


def test_bm25_hand_computed(spark):
    """BM25 vs the Okapi formula worked by hand on a 3-doc corpus."""
    import math

    from seafan_spark.llmops.text import bm25_scores

    docs = {
        "doc_id": [1, 2, 3],
        "text": [
            "apple banana apple",          # dl=3
            "banana cherry",               # dl=2
            "cherry cherry cherry apple",  # dl=4
        ],
    }
    p = vec_to_pipe(spark, docs)
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in bm25_scores(p, ["apple", "cherry"], k=3).collect()
    }
    # N=3, avgdl=3; df(apple)=df(cherry)=2 -> idf = ln(1 + 1.5/2.5)
    idf = math.log(1.6)

    def sat(tf, dl, k1=1.2, b=0.75, avgdl=3.0):
        return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    exp = {
        1: idf * sat(2, 3),                  # apple tf=2
        2: idf * sat(1, 2),                  # cherry tf=1
        3: idf * sat(1, 4) + idf * sat(3, 4),  # apple + cherry
    }
    for did, (score, _) in got.items():
        assert score == pytest.approx(exp[did], abs=2e-6), did
    # ranking: d3 (both terms) > d1 > d2
    assert [d for d, (_, r) in sorted(got.items(), key=lambda t: t[1][1])] == [3, 1, 2]
    # a term absent from the corpus contributes nothing and breaks nothing
    got2 = bm25_scores(p, ["apple", "zzz-not-here"], k=2).collect()
    assert [r["doc_id"] for r in got2] == [1, 3]  # only apple-matching docs
    with pytest.raises(ValueError, match="query_terms"):
        bm25_scores(p, [])


# ----------------------------------------------------------- multimodal ----
def test_multimodal_plumbing(spark):
    payloads = [b"fakepng-" + bytes([i]) * 20 for i in range(5)]
    p = vec_to_pipe(spark, {"doc_id": list(range(5))})
    df = p.df.withColumn(
        "media",
        F.element_at(
            F.array(*[F.lit(b) for b in payloads]), F.col("doc_id").cast("int") + 1
        ),
    )
    tagged = multimodal.attach_media_metadata(df, "media", "image", "png")
    meta = tagged.select("media_meta.*").collect()
    assert meta[0]["media_type"] == "image" and meta[0]["n_bytes"] == 28

    feats = multimodal.extract_image_features(df, "doc_id", "media").collect()
    assert len(feats) == 5
    h, w, c, luma = multimodal._fake_decode_image(payloads[0])
    got = next(r for r in feats if r["doc_id"] == 0)
    assert (got["height"], got["width"], got["mean_luma"]) == (h, w, pytest.approx(luma))

    rs = multimodal.resize_images(df, "doc_id", "media", (64, 64)).collect()
    assert all(bytes(r["resized"]).startswith(b"resized:64x64:") for r in rs)

    frames = multimodal.sample_video_frames(df, "doc_id", "media", every_n=30).collect()
    assert len(frames) == 5  # 1 fake frame per tiny payload


def test_multiprobe_lsh_improves_recall(vec_pipe):
    from seafan_spark.llmops.similarity import ann_brute_topk, ann_lsh_topk

    pipe, ids, vecs = vec_pipe
    truth = {
        (r["q_id"], r["neighbor_id"])
        for r in ann_brute_topk(pipe, "vec_id", "embedding", k=3).collect()
    }

    def recall(probe_bits):
        got = {
            (r["q_id"], r["neighbor_id"])
            for r in ann_lsh_topk(
                pipe, "vec_id", "embedding", k=3, planes=4, dim=16,
                probe_bits=probe_bits,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r0, r1 = recall(0), recall(1)
    # single-bit multi-probe must strictly add candidate coverage here
    # (measured on this fixture: ~0.22 -> ~0.60)
    assert r1 > r0
    assert r1 > 0.5


def test_vector_dim_guards(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from seafan_spark.llmops.similarity import (
        ann_lsh_topk,
        infer_vec_dim,
        random_projection_col,
    )

    # wrong-length vector raises instead of silently null-bucketing
    bad = vec_to_pipe(spark, {"vec_id": [1, 2], "embedding": [[1.0] * 16, [1.0] * 15]})
    with _pt.raises(Exception, match="expected vector of dim"):
        ann_lsh_topk(bad, "vec_id", "embedding", planes=4, dim=16).collect()
    with _pt.raises(Exception, match="expected vector of dim"):
        bad.df.select(
            random_projection_col(F.col("embedding"), 16, 2)
        ).collect()
    # empty input: clear error, not TypeError on None
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pt.raises(ValueError, match="empty input"):
        infer_vec_dim(empty, "embedding", "ann_lsh_topk")


def test_projection_and_buckets_match_numpy_at_1024_dims(spark):
    import random as _rnd

    import numpy as np
    from pyspark.sql import functions as F

    from seafan_spark.llmops.similarity import (
        hyperplane_bucket_col,
        hyperplane_weights,
        jl_sign_weights,
        random_projection_col,
    )

    # 1024 x 32 weights: well past any plan-literal size that matters,
    # still one folded literal per weight row
    rnd = _rnd.Random(3)
    in_dim, out_dim, planes = 1024, 32, 32
    rows = [(i, [rnd.gauss(0, 1) for _ in range(in_dim)]) for i in range(6)]
    df = spark.createDataFrame(rows, "i long, v array<double>")
    got = {
        r["i"]: (r["p"], r["b"])
        for r in df.select(
            "i",
            random_projection_col(F.col("v"), in_dim, out_dim).alias("p"),
            hyperplane_bucket_col(F.col("v"), in_dim, planes=planes).alias("b"),
        ).collect()
    }
    jl = np.array(jl_sign_weights(in_dim, out_dim))
    hp = np.array(hyperplane_weights(planes, in_dim))
    for i, v in rows:
        p, b = got[i]
        assert p == pytest.approx(list(jl @ np.array(v) / out_dim ** 0.5))
        assert b == "".join("1" if x >= 0 else "0" for x in hp @ np.array(v))


def test_chunk_documents_boundaries(spark):
    from seafan_spark.llmops.text import chunk_documents

    text = "abcdefghij" * 12  # 120 chars
    p = vec_to_pipe(spark, {"doc_id": [1, 2, 3], "text": [text, "short", ""]})
    rows = chunk_documents(p, "doc_id", "text", size=50, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 120 chars, step 40 -> ceil((120-10)/40) = 3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["char_start"] for r in c1] == [1, 41, 81]
    assert [len(r["chunk"]) for r in c1] == [50, 50, 40]
    # consecutive chunks share exactly `overlap` characters
    assert c1[0]["chunk"][-10:] == c1[1]["chunk"][:10]
    # reassembly covers the original text exactly
    assert c1[0]["chunk"] + c1[1]["chunk"][10:] + c1[2]["chunk"][10:] == text
    # short + empty docs produce a single chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk"] == "short"
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk"] == ""
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(p, "doc_id", "text", size=10, overlap=10)


def test_minhash_incremental_matches_full(doc_pipe):
    from seafan_spark.llmops.dedup import (
        minhash_pairs_incremental,
        minhash_signatures,
    )

    # full-batch ground truth restricted to pairs touching the new set
    # (verify="est": the incremental path is signature-only, compare
    # like-for-like)
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_pairs(
            doc_pipe, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5,
            verify="est",
        ).collect()
    }
    new_ids = {0, 40, 42}  # includes planted dups on both sides
    want = {k: v for k, v in full.items() if k[0] in new_ids or k[1] in new_ids}

    old = doc_pipe.df.filter(~F.col("doc_id").isin(list(new_ids)))
    new = doc_pipe._derive(doc_pipe.df.filter(F.col("doc_id").isin(list(new_ids))))
    store = minhash_signatures(old, "doc_id", "text", num_hashes=64)
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_pairs_incremental(
            new, store, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
        ).collect()
    }
    assert got == want and (0, 40) in got


def test_minhash_incremental_reingested_id_no_dupes(doc_pipe):
    from seafan_spark.llmops.dedup import (
        minhash_pairs_incremental,
        minhash_signatures,
    )

    # store covers ALL docs; the new batch re-ingests 0/40/42 - the join
    # must not fan pairs out through duplicated signature rows
    store = minhash_signatures(doc_pipe.df, "doc_id", "text", num_hashes=64)
    new_ids = [0, 40, 42]
    new = doc_pipe._derive(doc_pipe.df.filter(F.col("doc_id").isin(new_ids)))
    rows = minhash_pairs_incremental(
        new, store, "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    ).collect()
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys)) and (0, 40) in keys


def test_cosine_zero_vector_null_not_crash(spark):
    from seafan_spark.llmops.similarity import cosine_col

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(cosine_col(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got[0] is None  # zero vector: NULL, not DIVIDE_BY_ZERO abort
    assert got[1] == pytest.approx(1.0)


def test_embedding_neardup_zero_vector_survives(spark):
    p = vec_to_pipe(
        spark,
        {
            "vec_id": [1, 2, 3],
            "embedding": [[0.0] * 8, [1.0] * 8, [1.0] * 8],
        },
    )
    rows = embedding_neardup_pairs(p, "vec_id", "embedding", threshold=0.9, planes=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(2, 3)}


def test_ngram_jaccard_capped_vocabulary_consistent(spark):
    # "a b c" appears in all 3 docs -> capped at max_df=2; jaccard must be
    # computed over the KEPT grams on both sides of the ratio
    docs = {
        "doc_id": [1, 2, 3],
        "text": [
            "a b c q w e",      # grams: "a b c","b c q","c q w","q w e"
            "a b c q w r",      # grams: "a b c","b c q","c q w","q w r"
            "a b c z z2 z3",
        ],
    }
    p = vec_to_pipe(spark, docs)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(p, "doc_id", "text", n=3, threshold=0.1, max_df=2).collect()
    }
    # kept grams doc1 = {b c q, c q w, q w e}, doc2 = {b c q, c q w, q w r}
    # inter = 2, union = 4 -> 0.5 (with full sizes it would be 2/6)
    assert got[(1, 2)] == pytest.approx(0.5, abs=1e-6)


def test_embedding_neardup_incremental_equals_full(vec_pipe, spark):
    """Two-batch incremental ingestion finds exactly the pairs the
    one-shot full-corpus LSH pass finds at the same probe settings."""
    from seafan_spark.llmops.dedup import (
        embedding_neardup_incremental,
        embedding_neardup_pairs,
        embedding_store_prepare,
    )

    pipe, ids, vecs = vec_pipe
    df = pipe.df
    full = embedding_neardup_pairs(
        pipe, "vec_id", "embedding", threshold=0.9, planes=8, dim=16, probe_bits=1
    )
    want = sorted((r["id_a"], r["id_b"]) for r in full.collect())
    assert (0, 50) in want and (1, 51) in want

    first = df.where(F.col("vec_id") < 25)   # has 0 and 1
    second = df.where(F.col("vec_id") >= 25)  # has the planted dups 50, 51
    store = embedding_store_prepare(first, "vec_id", "embedding", 16, 8)
    p1 = embedding_neardup_incremental(
        first, store.limit(0), "vec_id", "embedding", 16,
        threshold=0.9, planes=8, probe_bits=1,
    )
    p2 = embedding_neardup_incremental(
        second, store, "vec_id", "embedding", 16,
        threshold=0.9, planes=8, probe_bits=1,
    )
    got = sorted((r["id_a"], r["id_b"]) for r in p1.unionByName(p2).collect())
    assert got == want


def test_stream_embed_ingest_equals_batch(vec_pipe, spark, tmp_path):
    from seafan_spark.llmops.dedup import embedding_neardup_pairs
    from seafan_spark.streaming import stream_embed_ingest

    pipe, ids, vecs = vec_pipe
    src = f"{tmp_path}/vsrc"
    pipe.df.repartition(3).write.parquet(src)
    store, pairs_out = f"{tmp_path}/vstore", f"{tmp_path}/vpairs"
    sdf = (
        spark.readStream.schema(pipe.df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_embed_ingest(
        sdf, store, pairs_out, "vec_id", "embedding", dim=16,
        threshold=0.9, planes=8, probe_bits=1,
    )
    got = sorted(
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_out).collect()
    )
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            Pipeline(spark.read.parquet(src)), "vec_id", "embedding",
            threshold=0.9, planes=8, dim=16, probe_bits=1,
        ).collect()
    )
    assert (0, 50) in want and got == want
    assert spark.read.parquet(store).count() == len(ids)


def test_multimodal_decoder_modes(spark):
    """Decoder probe contract: 'fake' always works (the hash-oracle mode),
    'pil' raises without Pillow, 'auto' falls back to the fake, and an
    unknown mode is rejected."""
    import pytest as _pytest

    df = spark.createDataFrame([(1, b"\x89fakebytes")], "doc_id long, media binary")
    fake = multimodal.extract_image_features(df, "doc_id", "media", decoder="fake").collect()
    auto = multimodal.extract_image_features(df, "doc_id", "media", decoder="auto").collect()
    if multimodal._pil_module() is None:
        assert fake == auto  # auto falls back to the deterministic fake
        with _pytest.raises(NotImplementedError):
            multimodal.extract_image_features(df, "doc_id", "media", decoder="pil")
    with _pytest.raises(ValueError):
        multimodal.extract_image_features(df, "doc_id", "media", decoder="ffmpeg")


def test_multimodal_pil_real_decode(spark):
    """Real Pillow decode path — skipped in sandboxes without Pillow."""
    import pytest as _pytest

    Image = multimodal._pil_module()
    if Image is None:
        _pytest.skip("Pillow not installed")
    import io

    img = Image.new("RGB", (20, 10), color=(255, 255, 255))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], "doc_id long, media binary")
    feats = multimodal.extract_image_features(df, "doc_id", "media", decoder="pil").collect()
    assert (feats[0]["height"], feats[0]["width"], feats[0]["channels"]) == (10, 20, 3)
    assert feats[0]["mean_luma"] == _pytest.approx(1.0)
    resized = multimodal.resize_images(df, "doc_id", "media", (5, 5), decoder="pil").collect()
    rimg = Image.open(io.BytesIO(resized[0]["resized"]))
    assert rimg.size == (5, 5)


# ------------------------------------------------------- duplicated spans


def test_duplicated_spans_planted(spark):
    """A verbatim 60-char block shared by two docs is found in both, at
    the right offsets and exact length; unique text yields nothing."""
    from seafan_spark.llmops.dedup import duplicated_spans

    block = "the quick brown fox jumps over the lazy dog again and again!"  # 60 chars
    assert len(block) == 60
    docs = spark.createDataFrame(
        [
            (1, "A" * 30 + block + "B" * 25),
            (2, "C" * 10 + block + "D" * 40),
            (3, "totally unrelated text that repeats nothing from the others x"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["start"], r["span_len"])
        for r in duplicated_spans(docs, "doc_id", "text", min_len=50, gram_k=20).collect()
    }
    assert out == {(1, 31, 60), (2, 11, 60)}


def test_duplicated_spans_chained_and_short(spark):
    """Runs shorter than min_len are dropped; a doc shorter than gram_k
    is skipped outright (no sequence() on a negative range)."""
    from seafan_spark.llmops.dedup import duplicated_spans

    shared = "0123456789abcdefghijklmnopqrs"  # 29 chars: spans of 29 < 40
    docs = spark.createDataFrame(
        [
            (1, "xx" + shared + "yy" * 20),
            (2, "zz" + shared + "ww" * 20),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(docs, "doc_id", "text", min_len=40, gram_k=20)
    assert out.count() == 0
    # the same spans ARE reported at a lower threshold
    low = {
        (r["doc_id"], r["span_len"])
        for r in duplicated_spans(docs, "doc_id", "text", min_len=20, gram_k=20).collect()
    }
    assert (1, 29) in low and (2, 29) in low


def test_cut_duplicated_spans_planted(spark):
    """The shared block is excised from both carriers; unique docs pass
    through verbatim; overlapping char-space runs merge before cutting."""
    from seafan_spark.llmops.dedup import cut_duplicated_spans

    block = "the quick brown fox jumps over the lazy dog again and again!"
    docs = spark.createDataFrame(
        [
            (1, "A" * 30 + block + "B" * 25),
            (2, "C" * 10 + block + "D" * 40),
            (3, "totally unrelated text that repeats nothing from the others x"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in cut_duplicated_spans(
            docs, "doc_id", "text", min_len=50, gram_k=20
        ).collect()
    }
    assert out[1] == "A" * 30 + "B" * 25
    assert out[2] == "C" * 10 + "D" * 40
    assert out[3] == "totally unrelated text that repeats nothing from the others x"


def test_cut_duplicated_spans_explicit_spans(spark):
    """Caller-supplied spans (e.g. keep-one-copy pre-filtering) are
    honored, including overlap merging and end-of-string cuts."""
    from seafan_spark.llmops.dedup import cut_duplicated_spans

    docs = spark.createDataFrame([(7, "abcdefghij")], "doc_id long, text string")
    spans = spark.createDataFrame(
        [(7, 2, 3), (7, 3, 4), (7, 9, 2)],  # [2,4]+[3,6] merge to [2,6]; [9,10]
        "doc_id long, start long, span_len long",
    )
    out = cut_duplicated_spans(docs, "doc_id", "text", spans=spans).collect()
    assert out[0]["clean_text"] == "a" + "gh"


# ------------------------------------------------------ product quantization


def test_pq_codes_and_recall(spark):
    """PQ encode returns valid codes; ADC + exact re-rank recovers most
    true top-k neighbors on clustered synthetic vectors."""
    import numpy as np

    from seafan_spark.llmops.similarity import ann_brute_topk, ann_pq_topk, pq_code_col, pq_fit
    from seafan_spark.pipeline import Pipeline

    rng = np.random.default_rng(11)
    dim, n_clusters = 16, 6
    centers = rng.normal(0, 5, size=(n_clusters, dim))
    rows = []
    for i in range(240):
        v = centers[i % n_clusters] + rng.normal(0, 0.6, size=dim)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pipe = Pipeline(df)

    books = pq_fit(df, "embedding", dim, m=4, k_codes=8, seed=1)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == 4
    codes = df.select(pq_code_col(F.col("embedding"), books).alias("c")).collect()
    for r in codes:
        assert len(r["c"]) == 4 and all(0 <= c < 8 for c in r["c"])

    q = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    approx = ann_pq_topk(
        pipe, "vec_id", "embedding", queries=q, k=10, m=4, k_codes=8,
        dim=dim, seed=1, refine=6,
    ).collect()
    exact = ann_brute_topk(pipe, "vec_id", "embedding", queries=q, k=10).collect()
    ap = {}
    for r in approx:
        ap.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    ex = {}
    for r in exact:
        ex.setdefault(r["q_id"], set()).add(r["neighbor_id"])
    recalls = [len(ap[qid] & ex[qid]) / len(ex[qid]) for qid in ex]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    # cosine values on returned rows are TRUE cosines (re-ranked)
    exact_map = {(r["q_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["q_id"], r["neighbor_id"])
        if key in exact_map:
            assert abs(r["cosine"] - exact_map[key]) < 1e-9


def test_pq_adc_scores_matches_numpy(spark):
    """pq_adc_scores (the oracled ADC half) vs a numpy reference:
    same code assignment, same ADC distances, same ranking."""
    import numpy as np

    from seafan_spark.llmops.similarity import pq_adc_scores

    rng = np.random.default_rng(3)
    dim, m, kc = 8, 4, 3
    dsub = dim // m
    books = [
        [[float(rng.integers(-4, 5)) / 4.0 for _ in range(dsub)] for _ in range(kc)]
        for _ in range(m)
    ]
    X = rng.normal(0, 1, size=(40, dim))
    qv = [float(x) for x in rng.normal(0, 1, size=dim)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = pq_adc_scores(df, "vec_id", "embedding", qv, books, k=10).collect()

    B = np.asarray(books)  # (m, kc, dsub)
    S = X.reshape(len(X), m, 1, dsub)
    codes = ((S - B[None]) ** 2).sum(-1).argmin(-1)  # (n, m)
    lut = ((np.asarray(qv).reshape(m, 1, dsub) - B) ** 2).sum(-1)  # (m, kc)
    adc = np.array([sum(lut[j, codes[i, j]] for j in range(m)) for i in range(len(X))])
    order = sorted(range(len(X)), key=lambda i: (round(adc[i], 6), i))[:10]
    assert [r["vec_id"] for r in got] == order
    for r in got:
        assert r["adc"] == pytest.approx(adc[r["vec_id"]], abs=1e-6)
    assert [r["rank"] for r in got] == list(range(1, 11))


def test_pq_fit_rejects_bad_split(spark):
    from seafan_spark.llmops.similarity import pq_fit

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id long, v array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(df, "v", 3, m=2)


def test_ngram_containment_quote_inclusion(spark):
    from seafan_spark.llmops.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon"  # 5 tokens -> 3 trigrams
    long = (
        "intro words here " + short + " trailing content words follow after "
        "more and more unrelated filler sentences keep the documents apart"
    )
    p = vec_to_pipe(
        spark,
        {"doc_id": [1, 2, 3], "text": [short, long, "unrelated totally different text now"]},
    )
    pairs = ngram_containment_pairs(p, "doc_id", "text", n=3, threshold=0.9)
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in pairs.collect()}
    # every trigram of the short doc appears verbatim in the long one
    assert got == {(1, 2): pytest.approx(1.0, abs=1e-6)}
    # symmetric Jaccard dilutes the same pair far below its containment
    j = ngram_jaccard_pairs(p, "doc_id", "text", n=3, threshold=0.01)
    jv = {(r["id_a"], r["id_b"]): r["jaccard"] for r in j.collect()}
    assert jv[(1, 2)] < 0.5


def test_semantic_dedup_seeds_planted(spark):
    from seafan_spark.llmops.dedup import semantic_dedup

    vecs = {
        1: [1.0, 0.0, 0.0, 0.0],  # seed/cell 1 (x-axis)
        2: [0.0, 1.0, 0.0, 0.0],  # seed/cell 2 (y-axis)
        3: [0.999, 0.01, 0.0, 0.0],  # near-dup of 1
        4: [0.01, 0.999, 0.0, 0.0],  # near-dup of 2
        5: [0.0, 0.0, 1.0, 0.0],  # lone; cosine ties 0 -> min-seed-id cell
    }
    p = vec_to_pipe(
        spark, {"vec_id": list(vecs), "embedding": [vecs[i] for i in vecs]}
    )
    out = {
        r["id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(
            p, "vec_id", "embedding", n_clusters=2, eps=0.95, centroids="seeds", dim=4
        ).collect()
    }
    assert out == {1: (1, 1), 2: (2, 1), 3: (1, 0), 4: (2, 0), 5: (1, 1)}


def test_semantic_dedup_adaptive_default_k(spark):
    """n_clusters defaults to None -> adaptive_n_clusters ~ sqrt(N)
    (round-7 VERDICT #1b): the O(sum c_i^2) pair stage stays linear in N
    with defaults instead of inheriting a fixed-k quadratic term."""
    import inspect

    from seafan_spark.llmops.dedup import (
        adaptive_n_clusters,
        semantic_dedup,
        semantic_dedup_store_prepare,
    )

    for fn in (semantic_dedup, semantic_dedup_store_prepare):
        assert inspect.signature(fn).parameters["n_clusters"].default is None
    assert adaptive_n_clusters(1_000_000) == 1000
    assert adaptive_n_clusters(100) == 16          # floor
    assert adaptive_n_clusters(10**12) == 65536    # ceiling
    assert adaptive_n_clusters(0) == 16

    # defaults run end-to-end (kmeans path, k floored to 16 here) and
    # keep verdicts agree with pinning the same k explicitly
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)]
    dup = [(100 + i, rows[i][1]) for i in range(6)]  # exact copies -> dropped
    p = vec_to_pipe(
        spark,
        {"vec_id": [r[0] for r in rows + dup],
         "embedding": [r[1] for r in rows + dup]},
    )
    got = {r["id"]: r["keep"]
           for r in semantic_dedup(p, "vec_id", "embedding", eps=0.999).collect()}
    pinned = {r["id"]: r["keep"]
              for r in semantic_dedup(p, "vec_id", "embedding", n_clusters=16,
                                      eps=0.999).collect()}
    assert got == pinned
    assert all(got[100 + i] == 0 for i in range(6))
    assert all(got[i] == 1 for i in range(40))


def test_semantic_dedup_kmeans_matches_reference(spark):
    """The quantizer is free (kmeans vs seeds); GIVEN the returned
    assignment, the pair + keep-first logic must match a direct numpy
    replay: x dropped iff some same-cluster y with smaller id has
    cosine >= eps."""
    import numpy as np

    from seafan_spark.llmops.dedup import semantic_dedup

    rng = random.Random(7)
    ids, rows = [], []
    for i in range(60):
        v = [rng.gauss(0, 1) for _ in range(16)]
        ids.append(i)
        rows.append(v)
        if i % 5 == 0:  # plant a near-dup: same direction, tiny jitter
            ids.append(1000 + i)
            rows.append([x + rng.gauss(0, 0.001) for x in v])
    p = vec_to_pipe(spark, {"vec_id": ids, "embedding": rows})
    got = semantic_dedup(
        p, "vec_id", "embedding", n_clusters=4, eps=0.9, centroids="kmeans", dim=16
    ).collect()
    by_id = {r["id"]: r for r in got}
    assert set(by_id) == set(ids)
    mat = {i: np.asarray(v) / np.linalg.norm(v) for i, v in zip(ids, rows)}
    for r in got:
        same = [
            o["id"]
            for o in got
            if o["cluster"] == r["cluster"] and o["id"] < r["id"]
        ]
        dropped = any(float(mat[y] @ mat[r["id"]]) >= 0.9 for y in same)
        assert r["keep"] == (0 if dropped else 1), r
    # every planted dup that landed in its partner's cluster is dropped
    planted = [
        (i, 1000 + i)
        for i in range(0, 60, 5)
        if by_id[i]["cluster"] == by_id[1000 + i]["cluster"]
    ]
    assert planted, "kmeans separated every planted pair - test vacuous"
    assert all(by_id[b]["keep"] == 0 for _, b in planted)


def test_semantic_dedup_bad_mode_raises(spark):
    from seafan_spark.llmops.dedup import semantic_dedup

    p = vec_to_pipe(spark, {"vec_id": [1], "embedding": [[1.0, 0.0]]})
    with pytest.raises(ValueError, match="centroids"):
        semantic_dedup(p, "vec_id", "embedding", centroids="nope", dim=2)


def test_ngram_jaccard_prefix_equals_postings(spark):
    """The prefix-filtered set-similarity join (Vernica SIGMOD'10) must
    return the exact pair set of the posting-list join at any threshold,
    including near-identical, disjoint, and short documents."""
    import random as _rnd

    rng = _rnd.Random(3)
    vocab = [f"w{i}" for i in range(150)]
    docs = {}
    for i in range(40):
        docs[i] = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 60)))
    # planted near-dups: small perturbations of existing docs
    for i in range(5):
        toks = docs[i].split()
        toks[rng.randrange(len(toks))] = "zz"
        docs[100 + i] = " ".join(toks)
    p = vec_to_pipe(spark, {"doc_id": list(docs), "text": [docs[k] for k in docs]})
    for t in (0.2, 0.5, 0.9):
        a = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                p, "doc_id", "text", n=3, threshold=t, max_df=1000
            ).collect()
        }
        b = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                p, "doc_id", "text", n=3, threshold=t, max_df=1000, method="prefix"
            ).collect()
        }
        assert a == b, f"threshold {t}: prefix != postings"
    assert any(k for k in a), "no pairs at 0.9 - planted dups missing"


def test_semantic_dedup_incremental_equals_oneshot(spark):
    """store_prepare(A) + incremental(B) UNION == one-shot semantic_dedup
    over A+B when B's ids exceed A's (append-only id discipline)."""
    import random as _rnd

    from seafan_spark.llmops.dedup import (
        semantic_dedup,
        semantic_dedup_incremental,
        semantic_dedup_store_prepare,
    )

    rng = _rnd.Random(11)
    ids, rows = [], []
    base_vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(12)]
    for i in range(60):
        src = base_vecs[rng.randrange(len(base_vecs))]
        ids.append(i)
        rows.append([x + rng.gauss(0, 0.05) for x in src])  # clusters w/ dups
    p = vec_to_pipe(spark, {"vec_id": ids, "embedding": rows})
    one = {
        r["id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(
            p, "vec_id", "embedding", n_clusters=4, eps=0.97,
            centroids="seeds", dim=8,
        ).collect()
    }
    base = vec_to_pipe(
        spark,
        {"vec_id": ids[:30], "embedding": rows[:30]},
    )
    batch = vec_to_pipe(spark, {"vec_id": ids[30:], "embedding": rows[30:]}).df
    store, cents = semantic_dedup_store_prepare(
        base, "vec_id", "embedding", n_clusters=4, eps=0.97,
        centroids="seeds", dim=8,
    )
    new_rows = semantic_dedup_incremental(
        batch, store, cents, "vec_id", "embedding", eps=0.97, dim=8
    )
    incr = {
        r["_id"]: (r["_cell"], r["_keep"])
        for r in store.unionByName(new_rows).collect()
    }
    assert incr == one
    assert 0 < sum(1 for v in one.values() if v[1] == 0) < len(one)


def test_semantic_dedup_incremental_dropped_store_row_witnesses(spark):
    """A _keep=0 store row still witness-drops a later near-identical
    arrival (the one-shot rule counts dropped rows as witnesses)."""
    from seafan_spark.llmops.dedup import (
        semantic_dedup_incremental,
        semantic_dedup_store_prepare,
    )

    v = [1.0, 0.0, 0.0, 0.0]
    base = vec_to_pipe(
        spark,
        {"vec_id": [1, 2, 3], "embedding": [v, v, [0.0, 1.0, 0.0, 0.0]]},
    )
    store, cents = semantic_dedup_store_prepare(
        base, "vec_id", "embedding", n_clusters=2, eps=0.99,
        centroids="seeds", dim=4,
    )
    s = {r["_id"]: r["_keep"] for r in store.collect()}
    assert s == {1: 1, 2: 0, 3: 1}  # 2 is a dropped dup of 1
    batch = vec_to_pipe(spark, {"vec_id": [9], "embedding": [v]}).df
    got = semantic_dedup_incremental(
        batch, store, cents, "vec_id", "embedding", eps=0.99, dim=4
    ).collect()
    assert [(r["_id"], r["_keep"]) for r in got] == [(9, 0)]


def _kmeans_drift_rows():
    rng = random.Random(5)
    return [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(200)]


def test_semantic_dedup_incremental_kmeans_copy_lands_in_original_cell(spark):
    """A kmeans store and a later batch share one assignment rule: every
    exact re-ingested copy gets its stored original's cell, so it is
    compared with (and dropped against) that original."""
    from seafan_spark.llmops.dedup import (
        semantic_dedup_incremental,
        semantic_dedup_store_prepare,
    )

    rows = _kmeans_drift_rows()
    base = vec_to_pipe(
        spark, {"vec_id": [i for i, _ in rows], "embedding": [v for _, v in rows]}
    )
    store, cents = semantic_dedup_store_prepare(
        base, "vec_id", "embedding", n_clusters=6, centroids="kmeans", dim=8
    )
    stored = {r["_id"]: r["_cell"] for r in store.collect()}
    batch = vec_to_pipe(
        spark,
        {"vec_id": [1000 + i for i, _ in rows], "embedding": [v for _, v in rows]},
    ).df
    got = semantic_dedup_incremental(batch, store, cents, "vec_id", "embedding", dim=8)
    copies = {r["_id"] - 1000: (r["_cell"], r["_keep"]) for r in got.collect()}
    assert copies == {i: (stored[i], 0) for i in stored}


def test_cluster_silhouette_kmeans_rows_nearest_own_centroid(spark):
    """With unit-norm kmeans centroids every row's own cell is its nearest
    centroid in the documented 1 - cos distance, so no silhouette is
    negative."""
    from seafan_spark.llmops.similarity import cluster_silhouette

    rows = _kmeans_drift_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cluster_silhouette(
        df, "vec_id", "embedding", n_clusters=6, centroids="kmeans", dim=8
    ).collect()
    assert len(out) > 1
    assert all(r["min_sil"] >= 0.0 for r in out), [tuple(r) for r in out]


def test_hard_negatives_excludes_gold(spark):
    """The anchor's self and gold positives never appear; the result is
    exactly the brute top-k over the remaining corpus."""
    from seafan_spark.llmops.similarity import ann_brute_topk, hard_negatives
    from seafan_spark.pipeline import Pipeline

    rng = random.Random(2)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = Pipeline(df)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # make the gold positives the anchors' TRUE top-1 so exclusion bites
    top1 = {
        r["q_id"]: r["neighbor_id"]
        for r in ann_brute_topk(p, "vec_id", "embedding", queries=q, k=1).collect()
    }
    pos = spark.createDataFrame(
        [(qid, nid) for qid, nid in top1.items()], "q_id long, pos_id long"
    )
    got = hard_negatives(p, "vec_id", "embedding", pos, k=5, queries=q).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["neighbor_id"])
    brute = ann_brute_topk(p, "vec_id", "embedding", queries=q, k=6).collect()
    for qid, negs in by_q.items():
        assert len(negs) == 5
        assert top1[qid] not in negs and qid not in negs
        # equals brute top-6 minus the gold top-1
        want = [r["neighbor_id"] for r in brute if r["q_id"] == qid and r["neighbor_id"] != top1[qid]][:5]
        assert negs == want, (qid, negs, want)


def _py_cohen(items):
    """Independent plain-Python Cohen's kappa over [(la, lb), ...]."""
    n = len(items)
    po = sum(1 for a, b in items if a == b) / n
    from collections import Counter

    ca, cb = Counter(a for a, _ in items), Counter(b for _, b in items)
    pe = sum(ca[l] * cb[l] for l in set(ca) | set(cb)) / (n * n)
    return po, pe, (po - pe) / (1 - pe) if pe < 1 else None


def test_annotator_agreement_cohen(spark):
    from seafan_spark.llmops.labels import annotator_agreement

    rows = []
    labs = {}
    for item in range(60):
        for ann in range(3):
            lab = (item % 4) if (item * 31 + ann * 17) % 10 < 7 else (item + ann) % 4
            rows.append((item, ann, lab))
            labs[(item, ann)] = lab
    df = spark.createDataFrame(rows, "item_id int, annotator int, label int")
    got = {
        (r["annotator_a"], r["annotator_b"]): r
        for r in annotator_agreement(df, "item_id", "annotator", "label").collect()
    }
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    for (a, b), r in got.items():
        pairs = [(str(labs[(i, a)]), str(labs[(i, b)])) for i in range(60)]
        po, pe, kap = _py_cohen(pairs)
        assert r["n_items"] == 60
        assert abs(r["p_o"] - po) < 1e-6 and abs(r["p_e"] - pe) < 1e-6
        assert abs(r["kappa"] - kap) < 1e-6


def test_annotator_agreement_perfect_and_degenerate(spark):
    from seafan_spark.llmops.labels import annotator_agreement

    # perfect agreement with varied labels -> kappa 1
    rows = [(i, a, i % 3) for i in range(12) for a in range(2)]
    df = spark.createDataFrame(rows, "item_id int, annotator int, label int")
    r = annotator_agreement(df).collect()[0]
    assert r["kappa"] == 1.0
    # constant labels -> p_e = 1, kappa NULL
    rows = [(i, a, 7) for i in range(12) for a in range(2)]
    df = spark.createDataFrame(rows, "item_id int, annotator int, label int")
    r = annotator_agreement(df).collect()[0]
    assert r["p_o"] == 1.0 and r["p_e"] == 1.0 and r["kappa"] is None


def test_fleiss_kappa(spark):
    from seafan_spark.llmops.labels import fleiss_kappa

    rows = []
    votes = {}
    for item in range(40):
        for ann in range(4):
            lab = (item % 3) if (item * 13 + ann * 7) % 5 < 3 else (item + ann) % 3
            rows.append((item, ann, lab))
            votes.setdefault(item, {}).setdefault(lab, 0)
            votes[item][lab] += 1
    df = spark.createDataFrame(rows, "item_id int, annotator int, label int")
    r = fleiss_kappa(df, "item_id", "annotator", "label").collect()[0]
    # independent plain-Python Fleiss computation
    N, n = 40, 4
    p_bar = sum(sum(c * c for c in v.values()) - n for v in votes.values()) / (
        N * n * (n - 1)
    )
    from collections import Counter

    cj = Counter()
    for v in votes.values():
        cj.update(v)
    tot = sum(cj.values())
    p_e = sum(c * c for c in cj.values()) / (tot * tot)
    kap = (p_bar - p_e) / (1 - p_e)
    assert r["n_items"] == N and r["n_raters"] == n
    assert abs(r["p_bar"] - p_bar) < 1e-6
    assert abs(r["p_e"] - p_e) < 1e-6
    assert abs(r["kappa"] - kap) < 1e-6


def test_fleiss_kappa_rejects_uneven_ratings(spark):
    from seafan_spark.llmops.labels import fleiss_kappa

    rows = [(0, 0, 1), (0, 1, 1), (1, 0, 1)]  # item 1 has only one rating
    df = spark.createDataFrame(rows, "item_id int, annotator int, label int")
    with pytest.raises(ValueError, match="constant"):
        fleiss_kappa(df)


# --------------------------------------------------------- token divergence ----
def test_token_divergence_identical_groups_zero(spark):
    """Two groups with the SAME token distribution: kl = js = 0 and
    coverage = 1 for both."""
    from seafan_spark.llmops.text import token_divergence_by

    rows = [("a", "x y z x"), ("b", "x x y z")]
    df = spark.createDataFrame(rows, "src string, text string")
    out = {r["src"]: r for r in token_divergence_by(df, "src", "text").collect()}
    for g in ("a", "b"):
        assert out[g]["kl"] == pytest.approx(0.0, abs=1e-12)
        assert out[g]["js"] == pytest.approx(0.0, abs=1e-12)
        assert out[g]["coverage"] == pytest.approx(1.0, abs=1e-12)
        assert out[g]["n_tokens"] == 4 and out[g]["n_types"] == 3


def test_token_divergence_matches_scipy_style_reference(spark):
    """Disjoint-ish vocabularies: compare against a dense numpy
    computation of KL(P||Q) and JS over the FULL corpus vocabulary
    (the closed-form missing-mass identity must equal densification)."""
    import math
    from collections import Counter

    from seafan_spark.llmops.text import token_divergence_by

    docs = {"a": "cat dog cat bird", "b": "dog dog fish fish squid"}
    df = spark.createDataFrame(list(docs.items()), "src string, text string")
    corpus = Counter()
    per = {}
    for g, t in docs.items():
        per[g] = Counter(t.split())
        corpus.update(per[g])
    nt = sum(corpus.values())
    out = {r["src"]: r for r in token_divergence_by(df, "src", "text").collect()}
    for g, cnt in per.items():
        ng = sum(cnt.values())
        kl = js = cov = 0.0
        for term, ct in corpus.items():
            q = ct / nt
            p = cnt.get(term, 0) / ng
            m = (p + q) / 2
            if p > 0:
                kl += p * math.log(p / q)
                js += 0.5 * p * math.log(p / m)
                cov += q
            js += 0.5 * q * math.log(q / m)
        assert out[g]["kl"] == pytest.approx(kl, abs=1e-12), g
        assert out[g]["js"] == pytest.approx(js, abs=1e-12), g
        assert out[g]["coverage"] == pytest.approx(cov, abs=1e-12), g
        assert 0.0 < out[g]["js"] < math.log(2.0)


def test_cluster_silhouette_matches_numpy(spark):
    """Centroid-simplified silhouette vs a direct numpy replay on the
    same seed-centroid assignment; well-separated clusters score near 1,
    and a deliberately split cluster scores lower."""
    import numpy as np

    from seafan_spark.llmops.similarity import cluster_silhouette

    rng = np.random.default_rng(11)
    centers = np.eye(4)[:3] * 5.0  # 3 well-separated directions
    rows = []
    for i in range(60):
        v = centers[i % 3] + rng.normal(0, 0.05, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    got = {
        r["cluster"]: (r["n"], r["mean_sil"])
        for r in cluster_silhouette(
            df, "vid", "v", n_clusters=3, centroids="seeds", dim=4
        ).collect()
    }

    # numpy replay: seeds = unit vectors of ids 0,1,2; assign by max cos
    vecs = np.array([r[1] for r in rows])
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    seeds = unit[:3]
    cos = unit @ seeds.T
    own = cos.argmax(axis=1)  # first-max == min-seed-id tiebreak
    a = 1.0 - cos[np.arange(60), own]
    cos_masked = cos.copy()
    cos_masked[np.arange(60), own] = -np.inf
    b = 1.0 - cos_masked.max(axis=1)
    s = np.where(np.maximum(a, b) <= 0, 0.0, (b - a) / np.maximum(a, b))
    for c in range(3):
        n_ref = int((own == c).sum())
        mean_ref = float(s[own == c].mean())
        assert got[c][0] == n_ref
        assert abs(got[c][1] - mean_ref) < 1e-6
        assert got[c][1] > 0.9  # tight, well-separated clusters

    # k=1 is undefined
    import pytest as _pt

    with _pt.raises(ValueError, match="k=1|>= 2"):
        cluster_silhouette(df, "vid", "v", n_clusters=1, centroids="seeds", dim=4)


def _bpe_reference(word_counts, n_merges):
    """Pure-Python Sennrich BPE: overlapping pair stats, (count desc,
    pair asc) argmax, leftmost-first non-overlapping merge."""
    vocab = {tuple(w) + ("</w>",): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        stats = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] = stats.get((syms[i], syms[i + 1]), 0) + c
        if not stats:
            break
        pair = min(stats, key=lambda p: (-stats[p], " ".join(p)))
        merges.append((rank, pair[0], pair[1], pair[0] + pair[1], stats[pair]))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(pair[0] + pair[1]); i += 2
                else:
                    out.append(syms[i]); i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges, vocab


def test_bpe_train_matches_reference(spark):
    from seafan_spark.llmops.text import bpe_apply_col, bpe_train

    docs = [
        "low low low low low",
        "lower lower newest newest newest",
        "newest newest newest widest widest",
        "the the the lowest widest",
    ]
    df = spark.createDataFrame([(d,) for d in docs], "text string")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train(df, "text", n_merges=8).collect()
    ]

    wc = {}
    for d in docs:
        for w in d.split():
            wc[w] = wc.get(w, 0) + 1
    ref, ref_vocab = _bpe_reference(wc, 8)
    assert got == ref, (got, ref)

    # apply: tokenizing with the learned table reproduces the trained
    # vocabulary's segmentation per word
    merges = [(m[1], m[2]) for m in ref]
    toks = {
        r["w"]: r["t"]
        for r in spark.createDataFrame([(w,) for w in wc], "w string")
        .select("w", F.col("w").alias("copy"))
        .withColumn("t", bpe_apply_col(F.col("copy"), merges))
        .select("w", "t")
        .collect()
    }
    ref_seg = {"".join(s).replace("</w>", ""): list(s) for s in ref_vocab}
    for w, t in toks.items():
        assert t == ref_seg[w], (w, t, ref_seg[w])

    # multi-word text: a space is a word boundary, never a symbol — the
    # flattened tokens are the per-word segmentations concatenated
    multi = (
        spark.createDataFrame([("LOW  newest\tlow",)], "text string")
        .select(bpe_apply_col(F.col("text"), merges).alias("t"))
        .collect()[0]["t"]
    )
    assert multi == ref_seg["low"] + ref_seg["newest"] + ref_seg["low"]


def test_fuzzy_join_best_and_all(spark):
    from seafan_spark.llmops.dedup import fuzzy_join

    left = spark.createDataFrame(
        [(1, "acme corp"), (2, "Widgets  Inc"), (3, "zzz unrelated")],
        "lid long, lname string",
    )
    right = spark.createDataFrame(
        [(10, "acme corp"), (11, "acme  corpX"), (12, "widgets inc"),
         (13, "widgets incorporated"), (14, "other co")],
        "rid long, rname string",
    )
    allm = {
        (r["lid"], r["rid"]): r["dist"]
        for r in fuzzy_join(left, right, "lid", "lname", "rid", "rname",
                            max_dist=2, prefix_len=4, keep="all").collect()
    }
    # whitespace-normalized: 'acme  corpX' -> 'acme corpx' (dist 1)
    assert allm == {(1, 10): 0, (1, 11): 1, (2, 12): 0}
    best = {
        r["lid"]: (r["rid"], r["dist"])
        for r in fuzzy_join(left, right, "lid", "lname", "rid", "rname",
                            max_dist=2, prefix_len=4, keep="best").collect()
    }
    assert best == {1: (10, 0), 2: (12, 0)}  # lid 3 unmatched -> absent

    import pytest as _pt

    with _pt.raises(ValueError, match="keep mode"):
        fuzzy_join(left, right, "lid", "lname", "rid", "rname", keep="first")
