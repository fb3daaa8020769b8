"""Text-pipeline + similarity ops: correctness on the documents/embeddings tables."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hoshizora_spark import similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Corpus + near-copies of the first 5 docs (a few tokens appended)."""
    base = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token tail")).alias("text"),
        "lang", "source", "n_chars",
    )
    exact = docs.limit(3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(base).unionByName(exact)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_finds_injected_dups(spark, docs_with_dups):
    res = text.exact_dedup(docs_with_dups)
    dup_groups = res.filter(F.col("n_dups") > 0).collect()
    assert len(dup_groups) == 3
    assert all(r["keep_id"] < 1_000_000 for r in dup_groups)  # keeps the original
    # total rows preserved: sum over groups of (1 + n_dups) == corpus size
    tot = res.agg(F.sum(F.col("n_dups") + 1)).first()[0]
    assert tot == docs_with_dups.count()


def test_token_counts_match_python(spark, docs):
    rows = text.token_counts(docs).join(docs, "doc_id").limit(50).collect()
    for r in rows:
        assert r["n_tokens"] == len(r["text"].split())
        assert r["n_chars_measured"] == len(r["text"])


def test_quality_scores_bounds(spark, docs):
    rows = text.quality_scores(docs).collect()
    for r in rows:
        assert 0.0 <= r["punct_ratio"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert -0.01 <= r["quality"] <= 1.5 * 1.0 + 0.01


def test_lang_scores_deterministic_argmax(spark, docs):
    df = text.lang_scores(docs)
    rows = df.limit(100).collect()
    order = ["en", "es", "de", "fr", "zh"]
    for r in rows:
        scores = [(r[f"{lang}_score"], lang) for lang in order]
        best = max(range(5), key=lambda i: (scores[i][0], -i))
        assert r["pred_lang"] == order[best]


def test_jaccard_pairs_finds_near_dups(spark, docs_with_dups):
    pairs = text.jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    # each injected near-copy pairs with its original (exact copies have j=1)
    for i in range(3):
        assert any(a == i or b == i for a, b in got if b - a >= 1_000_000 or a < 5)
    assert all(r["jaccard"] <= 1.0 for r in pairs)


def test_minhash_lsh_recall_vs_exact(spark, docs_with_dups):
    exact = {
        (r["a"], r["b"])
        for r in text.jaccard_pairs(docs_with_dups, threshold=0.7).collect()
    }
    assert exact, "fixture should contain high-jaccard pairs"
    lsh = {
        (r["a"], r["b"])
        for r in text.minhash_near_dups(docs_with_dups, threshold=0.7).collect()
    }
    # LSH output is a subset of exact pairs (verification step) with high recall
    assert lsh <= exact
    assert len(lsh) >= 0.8 * len(exact)


def test_simhash_near_for_near_dups(spark, docs_with_dups):
    fp = {r["doc_id"]: r["simhash"] for r in text.simhash64(docs_with_dups).collect()}
    # exact copies share the fingerprint
    for i in range(3):
        assert fp[i] == fp[i + 2_000_000]
    # near-copies are within a few bits
    for i in range(5):
        ham = bin((fp[i] ^ fp[i + 1_000_000]) & ((1 << 64) - 1)).count("1")
        assert ham <= 8, f"doc {i}: hamming {ham}"


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.cosine_topk(emb, queries, k=5).collect()
    E = np.array([r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64)
    ids = [r["vec_id"] for r in emb.orderBy("vec_id").collect()]
    U = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    qids = [r["query_id"] for r in queries.collect()]
    for qid in qids:
        qi = ids.index(qid)
        sims = U @ U[qi]
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != qid),
            key=lambda i: (-round(sims[i], 6), ids[i]),
        )[:5]
        want = [ids[i] for i in order]
        mine = [r["vec_id"] for r in sorted(got, key=lambda r: (-r["cos"], r["vec_id"])) if r["query_id"] == qid]
        assert mine == want, f"query {qid}"


def test_ann_lsh_recall(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    approx = similarity.ann_lsh_topk(emb, queries, k=5, num_planes=16, bands=8).collect()
    ex = {(r["query_id"], r["vec_id"]) for r in exact}
    ap = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"recall {recall}"


def test_hyperplane_signatures_deterministic(spark, emb):
    s1 = {r["vec_id"]: r["sig"] for r in similarity.hyperplane_signatures(emb.limit(50)).collect()}
    s2 = {r["vec_id"]: r["sig"] for r in similarity.hyperplane_signatures(emb.limit(50)).collect()}
    assert s1 == s2


def test_simhash_sha60_portable_hash_and_votes(spark, docs_with_dups):
    """The sha256-prefix token hash must equal a Python-side reimplementation
    (portability contract with the DuckDB oracle), and the 60-bit variant
    keeps the same near-dup Hamming behavior as the xxhash64 one."""
    import hashlib

    fp = {r["doc_id"]: r["simhash"] for r in text.simhash_sha60(docs_with_dups).collect()}
    for i in range(3):
        assert fp[i] == fp[i + 2_000_000]
    for i in range(5):
        ham = bin((fp[i] ^ fp[i + 1_000_000]) & ((1 << 60) - 1)).count("1")
        assert ham <= 8, f"doc {i}: hamming {ham}"
    # spot-check the token hash primitive against hashlib
    tok_df = spark.createDataFrame([("hello",), ("wörld",)], schema="tok string")
    got = [r["h"] for r in tok_df.select(text.sha_token_hash60(F.col("tok")).alias("h")).collect()]
    want = [int(hashlib.sha256(t.encode()).hexdigest()[:15], 16) for t in ("hello", "wörld")]
    assert got == want


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """An all-identical corpus puts every doc in one bucket per band; the
    cap must bound the candidate join instead of going quadratic, while
    exact dedup still owns the identical-content collapse."""
    n = 400
    docs = spark.createDataFrame(
        [(i, "the same exact document body repeated many times over") for i in range(n)],
        schema="doc_id long, text string",
    )
    capped = text.minhash_lsh_candidates(docs, max_bucket_size=20).count()
    assert 0 < capped < 3000  # uncapped would be C(400,2) = 79800 pairs
    dedup = text.exact_dedup(docs).collect()
    assert len(dedup) == 1 and dedup[0]["n_dups"] == n - 1


def test_lsh_bucket_cap_noop_below_cap(spark, docs_with_dups):
    """Default cap (10k) must leave ordinary corpora untouched."""
    capped = {(r["a"], r["b"]) for r in
              text.minhash_lsh_candidates(docs_with_dups).collect()}
    uncapped = {(r["a"], r["b"]) for r in
                text.minhash_lsh_candidates(docs_with_dups, max_bucket_size=None).collect()}
    assert capped == uncapped


def test_ann_bucket_cap_completes_on_identical_embeddings(spark):
    import numpy as np

    vecs = [(i, [0.1, 0.2, 0.3, 0.4]) for i in range(300)]
    emb = spark.createDataFrame(vecs, schema="vec_id long, embedding array<double>")
    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding")
    res = similarity.ann_lsh_topk(emb, q, k=3, max_bucket_size=25)
    rows = res.collect()
    assert 0 < len(rows) <= 6
    assert all(abs(r["cos"] - 1.0) < 1e-9 for r in rows)


def test_token_counts_bpe_matches_python_re(spark, docs):
    import re

    sample = docs.limit(20)
    got = {r["doc_id"]: r for r in text.token_counts_bpe(sample).collect()}
    pat = re.compile(text.BPE_SPLIT_RE)
    for row in sample.collect():
        want = len(pat.findall(row["text"]))
        assert got[row["doc_id"]]["n_bpe_tokens"] == want
        assert (
            got[row["doc_id"]]["n_alpha_runs"]
            + got[row["doc_id"]]["n_digit_runs"]
            + got[row["doc_id"]]["n_punct_runs"]
            == want
        )


def test_winnowing_shared_fingerprints_for_near_dups(spark, docs_with_dups):
    """Winnowing guarantee: shared substrings of length >= k+w-1 share a
    fingerprint — exact copies must have identical fingerprint sets, and
    near-copies (suffix appended) must overlap almost fully."""
    fps = text.winnowing_fingerprints(docs_with_dups, k=7, window=4, max_chars=500)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    for i in range(3):
        assert by_doc[i] == by_doc[i + 2_000_000]
    for i in range(5):
        inter = len(by_doc[i] & by_doc[i + 1_000_000])
        union = len(by_doc[i] | by_doc[i + 1_000_000])
        assert inter / union > 0.8, f"doc {i}: jaccard {inter / union}"


def test_winnowing_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "exactly7"), (3, "a bit longer text here")],
        schema="doc_id long, text string",
    )
    rows = text.winnowing_fingerprints(docs, k=7, window=4).collect()
    ids = {r["doc_id"] for r in rows}
    assert 1 not in ids          # < k chars: no grams
    assert 2 in ids and 3 in ids # >= k chars: at least one fingerprint


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """Three tight clusters in 8-d — data with the structure IVF exploits."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = np.eye(3, 8) * 10.0
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")


def test_ivf_topk_clustered_recall_at_one_probe(spark, clustered_emb):
    """On clustered data one probe per query recovers the exact top-k:
    the IVF contract (touch ~nprobe/n_centroids of the corpus, lose
    nothing when the data is cellular)."""
    from pyspark.sql import functions as F

    q = clustered_emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["vec_id"]) for r in
             similarity.cosine_topk(clustered_emb, q, k=5).collect()}
    ivf = {(r["query_id"], r["vec_id"]) for r in
           similarity.ivf_topk(clustered_emb, q, k=5, n_centroids=3, nprobe=1, iters=8).collect()}
    assert ivf == exact


def test_ivf_index_deterministic_and_partitioned(spark, clustered_emb):
    a1, c1 = similarity.ivf_index(clustered_emb, n_centroids=3, iters=8)
    a2, c2 = similarity.ivf_index(clustered_emb, n_centroids=3, iters=8)
    assert c1 == c2
    m1 = {r["vec_id"]: r["cell"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cell"] for r in a2.collect()}
    assert m1 == m2
    # the three true clusters never split across a query: members of one
    # ground-truth cluster share their majority cell with >=95% purity
    from collections import Counter

    for c in range(3):
        cells = Counter(m1[i] for i in range(300) if i % 3 == c)
        assert cells.most_common(1)[0][1] >= 0.95 * sum(cells.values())


def test_ivf_index_input_guards(spark):
    import pytest as _pytest

    empty = spark.createDataFrame([], schema="vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="empty"):
        similarity.ivf_index(empty, n_centroids=2, iters=1)
    one = spark.createDataFrame([(0, [1.0, 0.0])], schema="vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="iters"):
        similarity.ivf_index(one, n_centroids=1, iters=0)


def test_ivf_assignments_consistent_with_returned_centroids(spark, clustered_emb):
    """Assignments must be computed against the RETURNED (post-update)
    centroids, not the previous iteration's (ADVICE r2): recomputing the
    argmax from the returned centroid list reproduces the assignment."""
    import numpy as np

    assign, cents = similarity.ivf_index(clustered_emb, n_centroids=3, iters=3)
    C = np.asarray(cents)
    got = {r["vec_id"]: r["cell"] for r in assign.collect()}
    rows = clustered_emb.collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        assert got[r["vec_id"]] == int(np.argmax(C @ v))


def test_cosine_near_dup_lsh_matches_exact_on_clusters(spark, clustered_emb):
    """LSH candidates → exact verify recovers every all-pairs near-dup on
    the clustered fixture (recall gate, same discipline as ann_lsh_topk)."""
    exact = {
        (r["a"], r["b"], r["cos"])
        for r in similarity.cosine_near_dup_pairs(clustered_emb, threshold=0.99).collect()
    }
    lsh = {
        (r["a"], r["b"], r["cos"])
        for r in similarity.cosine_near_dup_lsh(
            clustered_emb, threshold=0.99, num_planes=24, bands=12
        ).collect()
    }
    assert len(exact) > 0
    assert lsh == exact


def test_ivf_topk_distributed_matches_driver_path(spark, clustered_emb):
    """The distributed probe (mapInPandas query->cell, join on cell) must
    produce the EXACT rows of the driver-side probe at identical settings
    -- both at nprobe=1 on cellular data and at nprobe=n_centroids
    (degenerate exact search)."""
    from pyspark.sql import functions as F

    q = clustered_emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for nprobe in (1, 3):
        drv = {tuple(r) for r in similarity.ivf_topk(
            clustered_emb, q, k=5, n_centroids=3, nprobe=nprobe, iters=8).collect()}
        dist = {tuple(r) for r in similarity.ivf_topk_distributed(
            clustered_emb, q, k=5, n_centroids=3, nprobe=nprobe, iters=8).collect()}
        assert dist == drv, f"nprobe={nprobe}"


def test_ivf_topk_distributed_no_driver_collect_in_probe(spark, clustered_emb):
    """Queries enter the probe through mapInPandas (Arrow-batched), never
    BatchEvalPython; and the path has no MAX_QUERIES ceiling."""
    from pyspark.sql import functions as F

    q = clustered_emb.select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk_distributed(
        clustered_emb, q, k=3, n_centroids=3, nprobe=3, iters=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    exact = {(r["query_id"], r["vec_id"]) for r in
             similarity.cosine_topk(clustered_emb, q, k=3).collect()}
    got = {(r["query_id"], r["vec_id"]) for r in out.collect()}
    assert got == exact  # nprobe == n_centroids degrades to exact search


def test_ivf_topk_over_cap_points_to_distributed(spark, clustered_emb):
    from pyspark.sql import functions as F

    import hoshizora_spark.similarity as sim

    q = clustered_emb.select(F.col("vec_id").alias("query_id"), "embedding")
    old = sim.MAX_QUERIES
    sim.MAX_QUERIES = 10
    try:
        with pytest.raises(ValueError, match="ivf_topk_distributed"):
            sim.ivf_topk(clustered_emb, q, k=3, n_centroids=3, nprobe=3, iters=2)
    finally:
        sim.MAX_QUERIES = old


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_word_ngrams_short_docs_yield_no_grams(spark):
    docs = _docs(
        spark,
        [(1, "only two"), (2, "one"), (3, ""), (4, "a full three gram doc here")],
    )
    got = {(r["doc_id"], r["gram"]) for r in text.word_ngrams(docs, n=3).collect()}
    assert all(d == 4 for d, _ in got)
    assert ("a full three" in {g for _, g in got})
    assert len(got) == 4  # 6 tokens -> 4 trigrams


def test_jaccard_pairs_survive_short_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta"),
            (3, "x"),  # < n tokens: must not crash the join
            (4, "y z"),
        ],
    )
    pairs = text.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(1, 2)}


def test_minhash_pipeline_survives_short_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta"),
            (3, "too short"),
        ],
    )
    res = text.minhash_near_dups(docs, threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in res} == {(1, 2)}


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_ivf_index_leaves_no_cached_frames_and_assignments_survive(spark):
    from hoshizora_spark.similarity import ivf_index

    spark.catalog.clearCache()
    emb = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)],
        schema="vec_id long, embedding array<float>",
    )
    assign, cents = ivf_index(emb, n_centroids=4, iters=2)
    # consumed AFTER ivf_index returned (the unit-vector cache is gone by
    # now) — the materialized assignment frame must still produce rows
    assert assign.count() == 40
    assert len(cents) == 4
    assert _cache_manager_empty(spark)


def test_ivf_topk_query_cap(spark, monkeypatch):
    from hoshizora_spark import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(30)],
        schema="vec_id long, emb array<double>",
    ).withColumnRenamed("emb", "embedding")
    queries = spark.createDataFrame(
        [(i, [1.0, float(i), 0.5]) for i in range(5)],
        schema="query_id long, embedding array<double>",
    )
    monkeypatch.setattr(similarity, "MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        similarity.ivf_topk(emb, queries, k=2, n_centroids=2, iters=1)
    # under the cap: runs and returns per-query rows
    out = similarity.ivf_topk(
        emb, queries.limit(2), k=2, n_centroids=2, nprobe=2, iters=1
    )
    assert out.count() > 0
