"""Known-answer unit tests for dedup / similarity / text operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from graphdb_neo4j_spark.operators.similarity import topk_bruteforce, topk_lsh
from graphdb_neo4j_spark.operators.text import (
    lang_guess,
    punct_ratio,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "el gato y el perro de la casa que canta y baila"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    res = {r.keep_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert res[1] == 2  # docs 1+2 collapse
    assert res[3] == 1 and res[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7  # near dup
    assert (1, 4) not in pairs


def test_minhash_lsh_candidates_include_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 4) not in pairs and (4, 5) not in pairs


def test_simhash_identical_docs_share_hash(docs):
    res = {r.keep_id: (r.simhash, r.dup_count) for r in simhash_dedup(docs).collect()}
    assert res[1][1] == 2
    assert all(len(h) == 16 and set(h) <= set("0123456789abcdef")
               for h, _ in res.values())


def test_topk_bruteforce_orthogonal(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = topk_bruteforce(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.id for r in top] == [0, 1, 2]
    assert top[0].sim == pytest.approx(1.0)
    assert top[2].sim == pytest.approx(0.0)


def test_lsh_recall_against_bruteforce(spark):
    """Multiprobe LSH top-10 should recover most of the exact top-10 on
    the real embeddings table."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()[1])
    exact = {r.id for r in topk_bruteforce(emb, q, k=10).collect()}
    approx = {r.id for r in topk_lsh(emb, q, k=10, dims=len(q)).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A shingle shared by every document must not quadratically blow up
    the self-join when max_doc_freq is set — and true near-dups (which
    share many RARE shingles) are still found."""
    from graphdb_neo4j_spark.operators.dedup import ngram_jaccard_pairs

    hot = "zzz"  # one 3-gram present in every doc
    rows = [(i, hot + f" unique text number {i} with its own words {i}")
            for i in range(60)]
    rows.append((1000, rows[0][1] + "!"))  # near-dup of doc 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(docs, threshold=0.7, max_doc_freq=5)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (0, 1000) in pairs
    # the hot shingle alone may never produce a candidate pair: docs
    # sharing ONLY it (every unrelated pair) stay below threshold AND
    # below the capped join entirely
    assert len(pairs) <= 3

    # plan sanity: the capped path bounds per-shingle fan-out — the
    # pathological all-docs shingle is gone before the self-join
    uncapped_inter = ngram_jaccard_pairs(docs, threshold=0.0)
    capped_inter = ngram_jaccard_pairs(docs, threshold=0.0, max_doc_freq=5)
    assert capped_inter.count() < uncapped_inter.count()


def test_embedding_neardup_lsh_vs_exact(spark):
    """Banded-LSH near-dup: candidates verified exactly (pairs ⊆ exact
    with identical cos), high recall in the near-duplicate regime, and
    no nested-loop join in the plan."""
    import random

    from graphdb_neo4j_spark.operators.dedup import embedding_neardup_pairs

    rng = random.Random(7)
    rows = []
    for i in range(120):
        rows.append((i, [rng.gauss(0, 1) for _ in range(64)]))
    # plant 30 near-dups: tiny perturbations of existing vectors (cos ≈ 1)
    for j in range(30):
        base = rows[j][1]
        rows.append((1000 + j, [x + rng.gauss(0, 0.02) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r.id_a, r.id_b): r.cos for r in
             embedding_neardup_pairs(df, threshold=0.95, method="exact").collect()}
    lsh = {(r.id_a, r.id_b): r.cos for r in
           embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert set(lsh) <= set(exact)
    assert all(lsh[k] == exact[k] for k in lsh)  # verify step is exact
    recall = len(lsh) / max(len(exact), 1)
    assert len(exact) >= 30
    assert recall >= 0.9, f"near-dup recall too low: {recall}"

    plan = embedding_neardup_pairs(df, threshold=0.95)._jdf.queryExecution().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_text_functions(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of a!!!",), ("",), ("el gato de la casa y que",)],
        ["text"],
    )
    rows = df.select(
        token_count(F.col("text")).alias("n"),
        punct_ratio(F.col("text")).alias("p"),
        lang_guess(F.col("text")).alias("lang"),
        quality_score(F.col("text")).alias("q"),
    ).collect()
    assert rows[0].n == 7 and rows[0].lang == "en"
    assert rows[0].p == pytest.approx(3 / 27)
    assert rows[1].n == 0 and rows[1].lang == "und"
    assert rows[2].lang == "es"
    assert 0.0 <= rows[0].q <= 1.0


def test_neardup_clusters_transitive(spark):
    from graphdb_neo4j_spark.operators.dedup import neardup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, base),
        (2, base + "!"),            # near dup of 1
        (3, base + "!?"),           # near dup of 2 (chain → same cluster)
        (4, "totally different text about query engines and columnar io"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.id: (r.cluster_id, r.is_keeper) for r in
           neardup_clusters(docs, jaccard_threshold=0.5).collect()}
    assert out["1"][0] == out["2"][0] == out["3"][0]  # transitive closure
    assert out["4"][0] != out["1"][0]
    keepers = [i for i, (_, keep) in out.items() if keep]
    assert sorted(keepers) == ["1", "4"]


def test_ivf_recall_and_partition_pruning_shape(spark):
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.similarity import topk_bruteforce, topk_ivf

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()[1])
    exact = {r.id for r in topk_bruteforce(emb, q, k=10).collect()}
    approx_rows = topk_ivf(emb, q, k=10, n_centroids=8, n_probe=3, dims=len(q)).collect()
    approx = {r.id for r in approx_rows}
    recall = len(exact & approx) / 10
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    assert len(approx_rows) == 10


def test_pq_recall_determinism_and_index(spark, tmp_path):
    """PQ ADC + exact re-rank: decent recall vs brute force, codes are
    M small ints, training is bit-deterministic (integer k-means), and
    the materialized index probe replays the scan path exactly."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.similarity import (
        pq_encode,
        pq_index_write,
        pq_train,
        topk_bruteforce,
        topk_pq,
        topk_pq_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 0).head()[1])
    exact = {r.id for r in topk_bruteforce(emb, q, k=10).collect()}
    approx_rows = topk_pq(emb, q, k=10, m_subs=8, k_codes=16, dims=len(q)).collect()
    approx = {r.id for r in approx_rows}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    assert len(approx_rows) == 10

    # codes: one small int per subspace, every row encoded
    cb = pq_train(emb, m_subs=8, k_codes=16, dims=len(q))
    cb2 = pq_train(emb, m_subs=8, k_codes=16, dims=len(q))
    assert cb == cb2  # integer training: bit-identical across runs
    codes = pq_encode(emb, cb, dims=len(q))
    head = codes.head()
    assert len(head["codes"]) == 8
    assert all(0 <= c < 16 for c in head["codes"])
    assert codes.count() == emb.count()

    # materialized index probe == in-memory path
    path = str(tmp_path / "pq_idx")
    pq_index_write(emb, path, m_subs=8, k_codes=16, dims=len(q))
    via_idx = [(r.id, r.sim) for r in topk_pq_indexed(spark, path, q, k=10).collect()]
    direct = [(r.id, r.sim) for r in approx_rows]
    assert via_idx == direct


def test_sampling_determinism_and_packing(spark):
    """hash_split is stable under corpus growth; pack_sequences bins
    overflow by at most one document."""
    from graphdb_neo4j_spark.operators.sampling import (
        hash_split,
        pack_sequences,
        stratified_sample,
    )

    docs1 = spark.createDataFrame(
        [(i, f"s{i % 3}", "w " * (i % 50 + 1)) for i in range(200)],
        ["doc_id", "source", "text"],
    )
    docs2 = spark.createDataFrame(  # same ids + 100 more
        [(i, f"s{i % 3}", "w " * (i % 50 + 1)) for i in range(300)],
        ["doc_id", "source", "text"],
    )
    s1 = {r.doc_id: r.split for r in hash_split(docs1).collect()}
    s2 = {r.doc_id: r.split for r in hash_split(docs2).collect()}
    assert all(s2[i] == s1[i] for i in s1)  # old rows never move splits
    assert set(s1.values()) <= {"train", "val", "test"}
    n_train = sum(1 for v in s1.values() if v == "train")
    assert n_train >= 180  # ~98%

    kept = stratified_sample(docs1, {"s0": 1.0, "s1": 0.5}, strata_col="source")
    by_src = {r[0]: r[1] for r in kept.groupBy("source").count().collect()}
    assert by_src.get("s2") is None            # unlisted stratum dropped
    assert by_src["s0"] == 67                  # fraction 1.0 keeps all
    assert 0 < by_src.get("s1", 0) < 67        # fraction 0.5 keeps some

    import pyspark.sql.functions as F2
    toks = docs1.select(
        "doc_id", "source",
        F2.size(F2.split(F2.trim("text"), r"\s+")).alias("n_tokens"),
    )
    packed, pk_handle = pack_sequences(toks, budget=100, by_col="source")
    stats = packed.groupBy("source", "bin").agg(
        F2.sum("n_tokens").alias("tok"), F2.max("n_tokens").alias("mx")
    ).collect()
    pk_handle.release()
    for r in stats:
        assert r.tok < 100 + r.mx  # overflow bounded by one document


def test_text_normalize_scrubs(spark):
    from graphdb_neo4j_spark.operators.text import (
        count_pattern,
        normalize_text,
    )
    from graphdb_neo4j_spark.operators.text import EMAIL_RE, URL_RE

    df = spark.createDataFrame(
        [("see https://ex.com/a?b=1 and   mail bob.smith+x@corp.example.org  now",),
         ("no links here",)],
        ["text"],
    )
    rows = df.select(
        normalize_text(F.col("text")).alias("clean"),
        count_pattern(F.col("text"), URL_RE).alias("u"),
        count_pattern(F.col("text"), EMAIL_RE).alias("e"),
    ).collect()
    assert rows[0].clean == "see and mail <email> now"
    assert rows[0].u == 1 and rows[0].e == 1
    assert rows[1].clean == "no links here" and rows[1].u == 0


def test_jaccard_verify_equals_full_join(spark, docs):
    """Candidate-restricted Jaccard == the full self-join on the same
    pairs (same values, same threshold behavior)."""
    from graphdb_neo4j_spark.operators.dedup import jaccard_verify_pairs

    full = {(r.id_a, r.id_b): r.jaccard for r in
            ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()}
    cand = spark.createDataFrame(list(full), ["id_a", "id_b"])
    verified = {(r.id_a, r.id_b): r.jaccard for r in
                jaccard_verify_pairs(docs, cand, n=3, threshold=0.0).collect()}
    assert verified == full


def test_contaminated_docs_broadcast_and_exclusion(spark):
    """Eval docs never appear in the output; overlap counts are the
    distinct shared word n-grams; the eval side is broadcast."""
    from graphdb_neo4j_spark.operators.dedup import contaminated_docs

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),        # eval member
            (1, "alpha beta gamma epsilon"),      # shares "alpha beta gamma"
            (2, "zeta eta theta iota"),           # clean
            (3, "alpha beta gamma delta"),        # exact eval copy: 2 grams
            (4, "x y"),                           # too short for 3-grams
            (5, ""),                              # empty
        ],
        ["doc_id", "text"],
    )
    ev = docs.filter(F.col("doc_id") == 0)
    out = contaminated_docs(docs, ev, n=3, min_shared=1)
    rows = {r.doc_id: r.n_shared for r in out.collect()}
    assert rows == {1: 1, 3: 2}
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_repetition_stats_guards(spark):
    from graphdb_neo4j_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),     # 6 tokens, 2 distinct; bigrams all "a b"/"b a"
            (1, "all words differ"),
            (2, "one"),
            (3, ""),
            (4, "   "),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[0].n_tokens == 6
    assert rows[0].distinct_token_ratio == pytest.approx(2 / 6)
    # 5 bigrams: ab,ba,ab,ba,ab -> 2 distinct -> dup ratio 3/5
    assert rows[0].dup_bigram_ratio == pytest.approx(3 / 5)
    assert rows[1].distinct_token_ratio == 1.0
    assert rows[1].dup_bigram_ratio == 0.0
    assert rows[2].n_tokens == 1 and rows[2].dup_bigram_ratio == 0.0
    assert rows[3].n_tokens == 0 and rows[3].distinct_token_ratio == 0.0
    assert rows[4].n_tokens == 0 and rows[4].dup_bigram_ratio == 0.0


def test_tfidf_top_terms_small(spark):
    from graphdb_neo4j_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(docs, k=2)
    rows = {(r.doc_id, r.term): (r.tf, r.dfreq) for r in out.collect()}
    # doc 0: apple tf=2 df=1 beats banana tf=1 df=2
    assert rows[(0, "apple")] == (2, 1)
    assert rows[(0, "banana")] == (1, 2)
    assert (3, "") not in {k for k in rows}  # empty doc absent
    top0 = [r for r in out.collect() if r.doc_id == 0]
    assert max(r.tfidf for r in top0) == [r.tfidf for r in top0 if r.term == "apple"][0]


def test_chunk_documents_coverage(spark):
    from graphdb_neo4j_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(0, text), (1, "a b c"), (2, "")], ["doc_id", "text"]
    )
    out = chunk_documents(docs, chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: 100 tokens, step 24 -> ceil(92/24)=4 chunks
    c0 = sorted(by_doc[0], key=lambda r: r.chunk_id)
    assert [r.tok_start for r in c0] == [1, 25, 49, 73]
    assert [r.n_chunk_tokens for r in c0] == [32, 32, 32, 28]
    # consecutive chunks overlap by 8 tokens
    assert c0[0].chunk_text.split()[-8:] == c0[1].chunk_text.split()[:8]
    # full coverage: union of chunk tokens == original tokens
    seen = set()
    for r in c0:
        seen.update(r.chunk_text.split())
    assert seen == set(text.split())
    # short doc: one short chunk; empty doc: no chunks
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_chunk_tokens == 3
    assert 2 not in by_doc


def test_random_walks_valid_and_deterministic(spark):
    from graphdb_neo4j_spark.operators.traversal import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("b", "d")],
        ["src", "dst"],
    )
    und = {(s, d) for s, d in
           [(r.src, r.dst) for r in edges.collect()]}
    und |= {(d, s) for s, d in und}
    out1 = sorted(map(tuple, random_walks(edges, 2, 4).collect()))
    out2 = sorted(map(tuple, random_walks(edges, 2, 4).collect()))
    assert out1 == out2  # deterministic
    # 4 nodes x 2 walks x 5 positions
    assert len(out1) == 4 * 2 * 5
    # every consecutive transition is a real edge
    pos = {(s, w, st): n for s, w, st, n in out1}
    for (s, w, st), n in pos.items():
        if st > 0:
            assert (pos[(s, w, st - 1)], n) in und


def test_weighted_random_walks_bias_and_validity(spark):
    from graphdb_neo4j_spark.operators.traversal import weighted_random_walks

    edges = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1000)], ["src", "dst", "w"]
    )
    out = weighted_random_walks(edges, walks_per_node=50, walk_length=1).collect()
    firsts = [r.node for r in out if r.start == "a" and r.step == 1]
    assert len(firsts) == 50
    assert all(n in ("b", "c") for n in firsts)
    # weight 1000:1 -> overwhelmingly 'c' (deterministic, not flaky)
    assert firsts.count("c") >= 45
    # deterministic across runs
    again = weighted_random_walks(edges, walks_per_node=50, walk_length=1).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_node2vec_bias_direction(spark):
    """On the path a-b-c-d, step 2 from b (prev=a) chooses between
    returning (a, ret_w) and exploring (c, far_w since c not in N(a)):
    the weight ratio controls the outcome."""
    from graphdb_neo4j_spark.operators.traversal import node2vec_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"]
    )

    def step2_from_a(ret_w, base_w, far_w):
        out = node2vec_walks(
            edges, walks_per_node=40, walk_length=2,
            ret_w=ret_w, base_w=base_w, far_w=far_w,
        ).collect()
        return [
            r.node for r in out if r.start == "a" and r.step == 2
        ]

    returner = step2_from_a(1000, 1, 1)
    assert returner.count("a") >= 38  # overwhelmingly returns
    explorer = step2_from_a(1, 1, 1000)
    assert explorer.count("c") >= 38  # overwhelmingly explores
    # deterministic
    assert step2_from_a(1000, 1, 1) == returner


# ---------------------------------------------------------------------------
# substring-level dedup: repeated_passages
# ---------------------------------------------------------------------------


def test_repeated_passages_planted(spark):
    """A passage planted in two documents (and twice in a third) is
    found with exact start positions and token length; unrelated text
    yields nothing."""
    from graphdb_neo4j_spark.operators.dedup import repeated_passages

    passage = "pack my box with five dozen liquor jugs today"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + passage + " gamma delta epsilon"),
            (2, "zeta eta theta iota " + passage),
            (3, "one two three " + passage + " four " + passage),
            (4, "totally unrelated words that repeat nothing at all here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.length)
        for r in repeated_passages(docs, n=5, min_grams=2).collect()
    }
    # 9-token passage with n=5 → 5 consecutive shared grams → length 9
    assert (1, 2, 2, 4, 9) in got
    assert (1, 3, 2, 3, 9) in got
    assert (1, 3, 2, 13, 9) in got
    assert (2, 3, 4, 3, 9) in got
    assert (2, 3, 4, 13, 9) in got
    # within-document repeat in doc 3 (positions 3 and 13)
    assert (3, 3, 3, 13, 9) in got
    # doc 4 pairs with nothing
    assert not any(4 in (a, b) for a, b, *_ in got)


def test_repeated_passages_min_grams_and_cap(spark):
    """min_grams gates short overlaps; a df-capped hot gram drops out of
    the postings entirely."""
    from graphdb_neo4j_spark.operators.dedup import repeated_passages

    shared5 = "a b c d e"  # exactly one 5-gram → run of 1
    docs = spark.createDataFrame(
        [(1, "x " + shared5 + " y"), (2, shared5 + " z q")],
        "doc_id long, text string",
    )
    # one shared gram < min_grams=2 → filtered
    assert repeated_passages(docs, n=5, min_grams=2).count() == 0
    # but min_grams=1 finds it
    got = repeated_passages(docs, n=5, min_grams=1).collect()
    assert {(r.id_a, r.id_b, r.length) for r in got} == {(1, 2, 5)}
    # hot-gram cap: the same gram in >max_doc_freq docs is dropped
    many = spark.createDataFrame(
        [(i, shared5) for i in range(5)], "doc_id long, text string"
    )
    assert repeated_passages(many, n=5, min_grams=1, max_doc_freq=4).count() == 0


def test_knn_join_lsh_recall_and_self_match(spark):
    """LSH k-NN join: every query's nearest neighbor is itself at sim
    1.0 (identical vectors always share every bucket), and recall@5
    against the brute-force join is high on real embeddings."""
    from graphdb_neo4j_spark.operators.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = knn_join(queries, emb, k=5, method="brute").collect()
    lsh = knn_join(queries, emb, k=5, method="lsh", bands=8, rows_per_band=4).collect()

    # self-match at rank 1, sim 1.0 on both paths
    for rows in (brute, lsh):
        top1 = {r.query_id: (r.id, r.sim) for r in rows if r.rank == 1}
        assert all(top1[q] == (q, 1.0) for q in top1)
        assert set(top1) == set(range(10))

    want = {(r.query_id, r.id) for r in brute}
    got = {(r.query_id, r.id) for r in lsh}
    recall = len(want & got) / len(want)
    assert recall >= 0.6, recall  # banded 8x4 on 64-dim embeddings

    # per-query ordering is dense and deterministic
    ranks = {}
    for r in lsh:
        ranks.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


# --------------------------------------------------------------------------
# round 3: node similarity, fuzzy matching, trained-classifier filter
# --------------------------------------------------------------------------

def test_neighbor_jaccard_python_oracle(spark):
    from graphdb_neo4j_spark.operators.similarity import neighbor_jaccard

    edges = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "b"), (2, "c"), (2, "d"),
        (3, "x"),
        (1, "b"),  # duplicate edge must not inflate counts
    ]
    df = spark.createDataFrame(edges, "src int, dst string")
    got = {
        (r.node_a, r.node_b): (r.inter, r.union_size, r.jaccard)
        for r in neighbor_jaccard(df).collect()
    }
    # sets: 1->{a,b,c}, 2->{b,c,d}, 3->{x}
    assert got == {(1, 2): (2, 4, 0.5)}


def test_neighbor_jaccard_hub_cap_drops_hot_neighbor(spark):
    from graphdb_neo4j_spark.operators.similarity import neighbor_jaccard

    # "h" is shared by everyone (a hub) — with the cap it must not
    # generate candidate pairs on its own
    edges = [(i, "h") for i in range(1, 6)] + [(1, "p"), (2, "p")]
    df = spark.createDataFrame(edges, "src int, dst string")
    capped = neighbor_jaccard(df, max_neighbor_degree=3).collect()
    assert {(r.node_a, r.node_b) for r in capped} == {(1, 2)}
    # degrees are computed AFTER the cap (consistent candidate/degree space)
    row = capped[0]
    assert (row.inter, row.union_size) == (1, 1)


def test_fuzzy_match_pairs_python_oracle(spark):
    from graphdb_neo4j_spark.operators.text import fuzzy_match_pairs

    vals = ["red gear", "red bear", "red gearx", "blue whale", "red gear"]
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = {(r.val_a, r.val_b): r.dist for r in fuzzy_match_pairs(df, "name", max_dist=2).collect()}
    assert got == {
        ("red bear", "red gear"): 1,
        ("red gear", "red gearx"): 1,
        ("red bear", "red gearx"): 2,
    }


def test_classifier_score_threshold_and_weights(spark):
    from graphdb_neo4j_spark.operators.text import classifier_score

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "x x x x x x")],
        "doc_id int, text string",
    )
    # a weight vector that scores ONLY the dup-bigram ratio negatively:
    # doc 2 is pure repetition -> dup_bi = 1 -> score -5 < 0 -> dropped
    out = {r.doc_id: r.keep for r in classifier_score(
        df, weights=[0.0, 0.0, -5.0, 0.0, 0.0, 0.1], threshold=0.0
    ).collect()}
    assert out == {1: True, 2: False}


def test_load_model_weights_roundtrip(tmp_path):
    import json

    from graphdb_neo4j_spark.operators.text import load_model_weights

    p = tmp_path / "model.json"
    p.write_text(json.dumps({"weights": [1, 2, 3, 4, 5], "bias": -0.5}))
    assert load_model_weights(str(p)) == [1.0, 2.0, 3.0, 4.0, 5.0, -0.5]


def test_hard_negative_mining_excludes_same_label(spark):
    from graphdb_neo4j_spark.operators.similarity import hard_negative_mining

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.14], 0),   # same label as 1 — ineligible despite sim
        (3, [0.9, 0.43], 1),    # closest cross-label vector
        (4, [0.0, 1.0], 1),
        (5, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = hard_negative_mining(df.filter("vec_id = 1"), df, k=2).collect()
    assert [(r.neg_id, r.rank) for r in got] == [(3, 1), (4, 2)]
    assert all(r.query_id == 1 for r in got)


def test_bigram_logprob_known_corpus(spark):
    import math

    from graphdb_neo4j_spark.operators.text import bigram_logprob_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a c"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in
           bigram_logprob_score(docs).collect()}
    # corpus bigrams: 'a b'x3 'b a'x2 'a c'x1; prefix a->4, b->2
    # doc1: ln(3/4), ln(2/2), ln(3/4); micro-nat snapping then mean
    lp = lambda n, d: round(math.log(n / d) * 1e6)
    exp1 = (lp(3,4) + lp(2,2) + lp(3,4)) / 1e6 / 3
    exp2 = (lp(3,4) + lp(2,2) + lp(1,4)) / 1e6 / 3
    assert got[1] == (3, exp1)
    assert got[2] == (3, exp2)
    assert 3 not in got  # single token -> no bigrams -> no row


def test_semdedup_drops_planted_near_duplicate(spark):
    """SemDeDup: a vector nearly identical to a smaller-id vector in
    the same cluster is dropped; orthogonal vectors all survive; the
    keeper is the smaller id."""
    from graphdb_neo4j_spark.operators.dedup import semdedup

    dim = 8

    def unit(i, eps=0.0):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i + 1) % dim] = eps
        return v

    rows = [
        (0, unit(0)),
        (1, unit(1)),
        (2, unit(2)),
        (10, unit(0, eps=0.01)),  # near-dup of 0
        (11, unit(1, eps=0.01)),  # near-dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(df, k=3, threshold=0.9)
    kept = {r["id"] for r in out.collect()}
    # every kept id is a cluster representative; planted dups 10/11 are
    # dropped ONLY IF they landed in the same cluster as their original
    # (3 hash-sampled centroids over 5 points: verify cluster-locality
    # explicitly rather than assume it)
    assign = {r["id"]: r["cluster"] for r in
              semdedup(df, k=3, threshold=2.0).collect()}  # threshold>1: no drops
    for dup, orig in [(10, 0), (11, 1)]:
        if assign[dup] == assign[orig]:
            assert dup not in kept, (dup, assign)
            assert orig in kept
        else:
            assert dup in kept  # cross-cluster: SemDeDup by design keeps it
    assert 2 in kept


def test_semdedup_kmeans_margin_robust(spark):
    """k-means SemDeDup on three well-separated groups, each with a
    planted near-duplicate: the dup is dropped and the distinct member
    kept REGARDLESS of k-means init (margins make co-clustering of
    each dup with its original invariant, and cross-group cosines ~0
    can never trigger a prune)."""
    from graphdb_neo4j_spark.operators.dedup import semdedup_kmeans

    dim = 8
    rows = []
    for g in range(3):
        base = [0.0] * dim
        base[g] = 100.0
        dup = list(base)
        dup[(g + 3) % dim] = 1.0     # cos ≈ 0.99995 vs base → pruned
        far = list(base)
        far[(g + 3) % dim] = 80.0    # cos ≈ 0.78 vs base → kept
        rows += [(g * 10, base), (g * 10 + 1, dup), (g * 10 + 2, far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup_kmeans(df, k=3, iters=2, threshold=0.9, dims=dim)
    kept = {r["id"] for r in out.collect()}
    assert kept == {0, 2, 10, 12, 20, 22}


def test_hyperplane_bits_arrow_equals_relational(spark):
    """The Arrow matmul kernel and the relational explode+agg produce
    bit-identical signatures (exact int64 arithmetic in both)."""
    from graphdb_neo4j_spark.operators.similarity import hyperplane_bits
    from graphdb_neo4j_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = hyperplane_bits(emb, dims=64, n_planes=24, impl="arrow")
    r = hyperplane_bits(emb, dims=64, n_planes=24, impl="relational")
    assert a.columns == r.columns
    assert a.exceptAll(r).isEmpty() and r.exceptAll(a).isEmpty()


def test_simhash_arrow_equals_relational(spark):
    """Arrow md5-vote kernel ≡ relational 64-sum aggregate, including
    the empty-string-token and NULL-text edge cases."""
    from graphdb_neo4j_spark.operators.dedup import simhash_signatures
    from graphdb_neo4j_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = simhash_signatures(docs, impl="arrow")
    r = simhash_signatures(docs, impl="relational")
    assert a.exceptAll(r).isEmpty() and r.exceptAll(a).isEmpty()
    edge = spark.createDataFrame(
        [(1, "Hello  WORLD\tmixed\ncase"), (2, ""), (3, None),
         (4, "  leading and trailing  "), (5, "single")],
        "doc_id long, text string",
    )
    a = simhash_signatures(edge, impl="arrow")
    r = simhash_signatures(edge, impl="relational")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, r.collect()))


def test_short_text_shingles_and_fingerprint_empty(spark):
    """Texts shorter than n yield NO shingles / NULL fingerprint —
    pins the sequence(1,0)-descends guard in shingles_all and
    exploded_shingles."""
    from graphdb_neo4j_spark.operators.text import (
        exploded_shingles,
        fingerprint,
        shingles_all,
    )

    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "abcd")],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        shingles_all(F.col("text"), 3).alias("sh"),
        fingerprint(F.col("text"), 8).alias("fp"),
    ).collect()
    by_id = {r.doc_id: r for r in rows}
    assert list(by_id[1].sh) == [] and by_id[1].fp is None
    assert list(by_id[2].sh) == [] and by_id[2].fp is None
    assert by_id[3].sh is None and by_id[3].fp is None
    assert list(by_id[4].sh) == ["abc", "bcd"] and by_id[4].fp is None
    ex = exploded_shingles(df, n=3).collect()
    assert {r.id for r in ex} == {4}


def test_filtered_topk_lsh_subset_and_recall(spark):
    """Filtered LSH results ⊆ filtered exact ranking universe; recall
    vs the exact filtered top-k is high on the testdata."""
    from graphdb_neo4j_spark.operators.similarity import (
        filtered_topk,
        filtered_topk_lsh,
    )
    from graphdb_neo4j_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    allowed = docs.filter(F.col("lang") == "en").select("doc_id")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = filtered_topk(emb, allowed, list(q), k=10, round_sim=6).collect()
    approx = filtered_topk_lsh(
        emb, allowed, list(q), k=10, round_sim=6
    ).collect()
    allowed_set = {r.doc_id for r in allowed.collect()}
    assert all(r.id in allowed_set for r in approx)
    exact_ids = [r.id for r in exact]
    got = {r.id for r in approx}
    recall = len(got & set(exact_ids)) / len(exact_ids)
    assert recall >= 0.5, (recall, exact_ids, sorted(got))
    # the query vector itself (vec_id 0) is en? if allowed, it must rank 1st
    if 0 in allowed_set:
        assert exact_ids[0] == 0 and (not approx or approx[0].id == 0)


def test_remove_passages_planted(spark):
    """Planted repeated passage: the SECOND occurrence is cut, the
    first kept, untouched docs pass through byte-identical."""
    import hashlib

    from graphdb_neo4j_spark.operators.dedup import (
        remove_passages,
        repeated_passages,
    )

    passage = "p1 p2 p3 p4 p5 p6"
    docs = spark.createDataFrame(
        [
            (1, f"x1 x2 {passage} y1"),
            (2, f"z1 {passage} z2 z3"),
            (3, "totally unrelated words here now"),
        ],
        "doc_id long, text string",
    )
    ps = repeated_passages(docs, n=5, min_grams=2, max_doc_freq=64)
    out = {r.doc_id: r for r in remove_passages(docs, ps).collect()}
    # doc 1 is the FIRST occurrence → untouched
    assert (out[1].n_before, out[1].n_after) == (9, 9)
    # doc 2's passage (6 tokens) is scrubbed
    assert (out[2].n_before, out[2].n_after) == (9, 3)
    want = hashlib.md5("z1 z2 z3".encode()).hexdigest()
    assert out[2].cleaned_hash == want
    # untouched doc: hash of its own lowered token stream
    w3 = hashlib.md5("totally unrelated words here now".encode()).hexdigest()
    assert out[3].cleaned_hash == w3 and out[3].n_after == 5


# ---------------------------------------------------------------------------
# distributed PCA (operators/embed.py)
# ---------------------------------------------------------------------------


def test_pca_fit_matches_numpy(spark):
    """One-pass distributed (n, Σx, Σxxᵀ) fit ≡ numpy PCA on the
    collected table: same explained-variance spectrum, same
    (sign-fixed) components."""
    import numpy as np

    from graphdb_neo4j_spark.operators.embed import pca_fit

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    model = pca_fit(emb, dims=64, k=8)

    x = np.stack([r.embedding for r in emb.select("embedding").collect()]).astype(
        np.float64
    )
    mean = x.mean(axis=0)
    cov = np.cov(x, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    want_ev = evals[order]
    want_comp = evecs[:, order].T
    for i in range(8):
        j = int(np.argmax(np.abs(want_comp[i])))
        if want_comp[i, j] < 0:
            want_comp[i] = -want_comp[i]

    assert model.n == x.shape[0]
    np.testing.assert_allclose(model.mean, mean, rtol=0, atol=1e-9)
    np.testing.assert_allclose(model.explained_variance, want_ev, rtol=1e-8)
    np.testing.assert_allclose(
        np.array(model.components), want_comp, rtol=0, atol=1e-6
    )
    ratios = np.array(model.explained_variance_ratio)
    assert (ratios >= 0).all() and ratios.sum() <= 1.0 + 1e-9


def test_pca_project_reconstruction(spark):
    """Projection ≡ centered GEMM; k=d projection preserves pairwise
    distances (orthonormal basis)."""
    import numpy as np

    from graphdb_neo4j_spark.operators.embed import pca_fit, pca_project

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    model = pca_fit(emb, dims=64, k=64)
    proj = {r.id: np.array(r.proj) for r in pca_project(emb, model).collect()}

    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    mean = np.array(model.mean)
    comp_t = np.array(model.components).T
    ids = sorted(rows)[:20]
    for i in ids:
        want = (rows[i] - mean) @ comp_t
        np.testing.assert_allclose(proj[i], want, rtol=0, atol=1e-9)
    # full-rank rotation: distances preserved
    a, b = ids[0], ids[1]
    d_orig = np.linalg.norm(rows[a] - rows[b])
    d_proj = np.linalg.norm(proj[a] - proj[b])
    assert abs(d_orig - d_proj) < 1e-8 * max(1.0, d_orig)


def test_topk_pca_recall_vs_bruteforce(spark):
    from graphdb_neo4j_spark.operators.embed import l2_normalize, pca_fit, topk_pca

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = list(emb.filter("vec_id = 0").select("embedding").head()[0])
    exact = {r.id for r in topk_bruteforce(emb, q, k=10, round_sim=6).collect()}
    # k'=32: the synthetic table is near-isotropic (no low-rank
    # structure), so a 16-dim filter keeps only ~38% of variance;
    # 32 dims (~65%) is the honest operating point here
    model = pca_fit(l2_normalize(emb.select("vec_id", "embedding")), dims=64, k=32)
    got = topk_pca(emb, q, model, k=10, oversample=8).collect()
    assert len(got) == 10
    recall = len({r.id for r in got} & exact) / 10
    assert recall >= 0.8, recall  # 32-dim filter + 80-candidate rerank


def test_dsir_weights_prefers_target_vocabulary(spark):
    """Docs made of target-only vocabulary must outscore docs of
    source-only vocabulary; empty docs score 0 and are kept."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.sampling import dsir_weights

    rows = [
        (1, "alpha beta alpha", True),
        (2, "alpha beta", True),
        (3, "gamma delta gamma delta", False),
        (4, "alpha gamma", False),
        (5, "", False),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "tgt"])
    got = {
        r.doc_id: r.dsir_score_micro
        for r in dsir_weights(df, F.col("tgt")).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[5] == 0
    # per-token average score must rank target vocab above source vocab
    assert got[1] / 3 > got[3] / 4
    assert got[2] / 2 > got[3] / 4


def test_walk_cache_discipline(spark):
    """Walk loops release step s-1's frontier once step s materializes:
    after collect, no more than the final accumulator stays cached
    (regression: L live frontier caches for an L-step walk)."""
    from graphdb_neo4j_spark.operators.traversal import random_walks

    spark.catalog.clearCache()
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")], ["src", "dst"]
    )
    # DELTA-based (r11): clearCache() drops SQL-cached frames but not
    # persisted RDDs owned by other operators' session-lived caches
    # (e.g. workloads._graph_cache), so a global ceiling is
    # order-dependent across the suite — count only what the walk adds.
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    out = random_walks(edges, walks_per_node=2, walk_length=6)
    n = out.count()
    assert n == 4 * 2 * 7
    live = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(live) - before <= 2, [str(i.name()) for i in live]
    out.unpersist()


def test_pii_scrub_planted_fixtures(spark):
    from graphdb_neo4j_spark.operators.text import pii_scrub

    rows = [
        (1, "mail me at jo.doe+x@corp.example.org thanks"),
        (2, "server 192.168.1.17 and 10.0.0.1 rebooted"),
        (3, "call +1 555-0142 or +44 020-7946 maybe"),
        (4, "ssn 123-45-6789 on file"),
        (5, "nothing sensitive here 1234"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r for r in pii_scrub(df).collect()}
    assert got[1].n_email == 1 and "<email>" in got[1].text_scrubbed
    assert "jo.doe" not in got[1].text_scrubbed
    assert got[2].n_ipv4 == 2 and got[2].text_scrubbed.count("<ip>") == 2
    assert got[3].n_phone == 2 and got[3].text_scrubbed.count("<phone>") == 2
    assert got[4].n_ssn == 1 and "<ssn>" in got[4].text_scrubbed
    r5 = got[5]
    assert (r5.n_email, r5.n_ssn, r5.n_ipv4, r5.n_phone) == (0, 0, 0, 0)
    assert r5.text_scrubbed == rows[4][1]


def test_hamming_neardup_pairs_exact_recall_and_cap(spark):
    """Banded Hamming LSH equals brute force below the pigeonhole bound
    (max_hamming < bands), on planted near pairs among random 64-bit
    fingerprints; bucket_cap drops oversized buckets (recall trade
    documented)."""
    import random

    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_pairs

    rnd = random.Random(41)

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    hashes = {}
    for i in range(40):
        hashes[i] = rnd.getrandbits(64)
    # planted near-dups: flip <= 7 bits of an existing hash
    for i in range(40, 60):
        src = hashes[rnd.randrange(40)]
        for _ in range(rnd.randrange(8)):
            src ^= 1 << rnd.randrange(64)
        hashes[i] = src
    df = spark.createDataFrame(
        [(i, signed(h)) for i, h in hashes.items()], "doc_id long, h long"
    )
    pairs, handle = hamming_neardup_pairs(
        df, id_col="doc_id", hash_col="h", bands=8, max_hamming=7
    )
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    handle.release()
    want = {
        (i, j): bin(hashes[i] ^ hashes[j]).count("1")
        for i in hashes
        for j in hashes
        if i < j and bin(hashes[i] ^ hashes[j]).count("1") <= 7
    }
    assert got == want
    # a cap of 0 drops every bucket -> no candidates survive
    capped, h0 = hamming_neardup_pairs(
        df, id_col="doc_id", hash_col="h", bands=8, bucket_cap=0
    )
    assert capped.count() == 0
    h0.release()


def test_hamming_neardup_join_cross_frame_exact_recall(spark):
    """hamming_neardup_join (the new-vs-seen asymmetric LSH) equals
    brute force below the pigeonhole bound on planted left/right
    frames; no id_a < id_b ordering (different sets), NULL hashes on
    either side never pair, and a lazy frame (no handle) comes back."""
    import random

    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_join

    rnd = random.Random(17)

    def signed(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    right = {i: rnd.getrandbits(64) for i in range(30)}
    left = {}
    for i in range(100, 115):
        src = right[rnd.randrange(30)]
        for _ in range(rnd.randrange(8)):
            src ^= 1 << rnd.randrange(64)
        left[i] = src
    for i in range(115, 125):
        left[i] = rnd.getrandbits(64)  # mostly-far randoms
    ldf = spark.createDataFrame(
        [(i, signed(h)) for i, h in left.items()] + [(999, None)],
        "doc_id long, h long",
    )
    rdf = spark.createDataFrame(
        [(i, signed(h)) for i, h in right.items()] + [(998, None)],
        "doc_id long, h long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_neardup_join(
            ldf, rdf, id_col="doc_id", hash_col="h", bands=8, max_hamming=7
        ).collect()
    }
    want = {
        (i, j): bin(left[i] ^ right[j]).count("1")
        for i in left
        for j in right
        if bin(left[i] ^ right[j]).count("1") <= 7
    }
    assert got == want and want  # planted pairs exist


def test_hamming_neardup_bucket_cap_bounds_constant_background(spark):
    """r9 verdict item #5: the adversarial-bucket case — a scraped
    corpus where ONE fingerprint value dominates (millions of
    blank/logo images) makes every one of its (band, slice) buckets
    quadratic.  bucket_cap drops those buckets BEFORE the self-join,
    bounding candidates, while legitimate small clusters (below the
    cap) still pair with exact recall — the docstring's recommended
    production setting (exact-dedup first, then cap at a few x the
    largest legitimate cluster)."""
    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_pairs

    background = [(i, 0) for i in range(300)]           # constant hash
    base = 0x0F0F0F0F0F0F0F0F  # popcount 32 — far from the background
    cluster = [(1000 + j, base ^ (1 << j)) for j in range(5)]  # <=2 bits apart
    df = spark.createDataFrame(
        background + cluster, "doc_id long, h long"
    )
    # uncapped: the background alone is C(300,2) = 44850 pairs — the
    # quadratic blowup the cap exists to stop
    un, h_un = hamming_neardup_pairs(df, id_col="doc_id", hash_col="h", bands=8)
    assert un.filter("id_a < 1000").count() == 44850
    h_un.release()
    # capped at 20: every background bucket (size 300) is dropped, the
    # 5-member cluster's buckets (size <= 5) survive with full recall
    capped, h_cap = hamming_neardup_pairs(
        df, id_col="doc_id", hash_col="h", bands=8, bucket_cap=20
    )
    got = sorted((r.id_a, r.id_b) for r in capped.collect())
    h_cap.release()
    want = sorted(
        (a, b)
        for ai, (a, ha) in enumerate(cluster)
        for b, hb in cluster[ai + 1:]
        if bin(ha ^ hb).count("1") <= 7
    )
    assert got == want and len(got) == 10


def test_hamming_neardup_clusters_chain_closure(spark):
    """Perceptual similarity is not transitive: A~B and B~C within the
    threshold with A≁C must still land in ONE cluster (components
    closure), keeper = lexicographic-min id string; isolated hashes
    are their own keeper."""
    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_clusters

    a = 0
    b = a ^ 0b11111            # 5 bits from a
    c = b ^ (0b11111 << 20)    # 5 bits from b, 10 from a (> threshold)
    far = (1 << 62) - 1
    assert bin(a ^ c).count("1") == 10
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, far)], "doc_id long, h long"
    )
    got = {
        r.id: (r.cluster_id, r.is_keeper)
        for r in hamming_neardup_clusters(
            df, id_col="doc_id", hash_col="h", bands=8, max_hamming=7
        ).collect()
    }
    assert got == {
        "1": ("1", True),
        "2": ("1", False),
        "3": ("1", False),
        "9": ("9", True),
    }


def test_embedding_lsh_verify_keeps_parallelism(spark):
    """The exact-cosine verify after LSH candidate generation is
    CPU-bound per pair while candidate rows are tiny, so the r10
    explicit pair-key repartition must sit between the candidate
    distinct and the vector-attach joins (AQE's byte-based coalescing
    had serialized a measured 14s-CPU verify into one task)."""
    from graphdb_neo4j_spark.operators.dedup import embedding_neardup_pairs
    from graphdb_neo4j_spark.plans.audit import explain_str

    rows = [
        (i, [float((i * 7 + d * 3) % 13) - 6.0 for d in range(64)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_neardup_pairs(df, threshold=0.0)
    plan = explain_str(out)
    npart = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(id_a" in plan and f", {npart})" in plan, plan
