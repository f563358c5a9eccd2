"""Unit tests for the LLM-pipeline operators (palo_spark/operators)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from palo_spark.catalog import load_table
from palo_spark.operators import (
    dedup_exact,
    dedup_minhash,
    dedup_simhash,
    ngram_jaccard_pairs,
    similarity_topk,
    similarity_topk_lsh,
    knn_join,
    quality_score,
    token_count,
    lang_id,
    doc_fingerprint,
    tfidf_top_terms,
    pack_media,
    decode_media,
    sample_frames,
)
from palo_spark.operators.multimodal import fake_payload, parse_fake_header


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = (
    "the quick brown fox jumps over the lazy dog while the rain falls softly "
    "on the quiet village roofs and the river winds between the old stone houses"
)


# ------------------------------------------------------------------ dedup


def test_dedup_exact_normalizes_whitespace(spark):
    df = _docs(
        spark,
        [(1, "Hello  World"), (2, "hello world"), (3, "HELLO   WORLD "), (4, "other")],
    )
    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 4]


def test_dedup_minhash_removes_near_dups(spark):
    df = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE + " zz"),  # near-dup of 1
            (3, "completely different text about spark and parquet files"),
        ],
    )
    kept = sorted(r["doc_id"] for r in dedup_minhash(df, threshold=0.7).collect())
    assert kept == [1, 3]


def test_dedup_minhash_estimated_mode(spark):
    df = _docs(spark, [(1, BASE), (2, BASE), (3, "unrelated words entirely")])
    kept = sorted(
        r["doc_id"]
        for r in dedup_minhash(df, threshold=0.95, verify_exact=False).collect()
    )
    assert kept == [1, 3]  # identical text → est Jaccard exactly 1.0


def test_dedup_minhash_iterations_chain(spark):
    # a↔b similar, b↔c similar, a↔c less so: 2 iterations collapse all to 1
    df = _docs(spark, [(1, BASE), (2, BASE + " xx"), (3, BASE + " xx yy zz qq")])
    kept1 = sorted(r["doc_id"] for r in dedup_minhash(df, threshold=0.9).collect())
    assert 1 in kept1
    kept2 = sorted(
        r["doc_id"] for r in dedup_minhash(df, threshold=0.9, iterations=2).collect()
    )
    assert kept2 == [1]


def _shingle_set(text: str, k: int = 5) -> set[str]:
    """Python twin of ``shingles`` for ASCII text."""
    norm = re.sub(r"\s+", " ", text.strip(" ")).lower()
    return {norm[i : i + k] for i in range(max(len(norm) - k + 1, 1))}


def test_dedup_minhash_drop_set_matches_reference(spark):
    """The kept set is exactly the docs with no lower-id partner at exact
    5-shingle Jaccard >= threshold, and ``iterations`` does not move it:
    5 matches only 2 and 3, both dropped, and is dropped too; 8 and 9
    match only 10, so both survive (single-hop, not components)."""
    b2 = (
        "columnar storage engines keep each column in its own file so that "
        "scans read only the bytes a query needs and compress runs of equal values"
    )
    rows = [
        (1, BASE),
        (2, BASE + " xx"),
        (3, BASE + " xx yy zz qq"),
        (4, "completely different text about spark and parquet files"),
        (5, BASE + " xx yy zz qq rr ss"),
        (6, "completely different text about spark and parquet files too"),
        (7, "an unrelated note on vectorized hash joins"),
        (8, b2.replace(" so that ", " that ")),
        (9, b2.replace(" runs of ", " of ")),
        (10, b2),
    ]
    df = _docs(spark, rows)
    sets = {i: _shingle_set(t) for i, t in rows}

    def jac(a, b):
        return len(sets[a] & sets[b]) / len(sets[a] | sets[b])

    want = sorted(
        i for i, _ in rows if not any(jac(j, i) >= 0.9 for j, _ in rows if j < i)
    )
    assert want == [1, 4, 7, 8, 9]  # the corpus has the cases above
    kept1 = sorted(r["doc_id"] for r in dedup_minhash(df, threshold=0.9).collect())
    kept3 = sorted(
        r["doc_id"] for r in dedup_minhash(df, threshold=0.9, iterations=3).collect()
    )
    assert kept1 == kept3 == want


def test_dedup_simhash_near_dup(spark):
    df = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE.replace("village", "hamlet")),  # one token changed
            (3, "spark sql window functions over partitioned parquet data lakes"),
        ],
    )
    kept = sorted(r["doc_id"] for r in dedup_simhash(df).collect())
    assert kept == [1, 3]


def test_ngram_jaccard_exact_value(spark):
    # doc1: grams {a b c, b c d}; doc2: {a b c, b c e} → jaccard 1/3
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    rows = ngram_jaccard_pairs(df, n=3, threshold=0.1).collect()
    assert len(rows) == 1
    assert rows[0]["id_a"] == 1 and rows[0]["id_b"] == 2
    assert abs(rows[0]["jaccard"] - 1 / 3) < 1e-12


# ------------------------------------------------------------- similarity


def test_similarity_topk_matches_numpy(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    pdf = e.toPandas()
    q = np.array(pdf.loc[pdf.vec_id == 0, "embedding"].iloc[0], dtype=np.float64)
    mat = np.stack([np.array(v, dtype=np.float64) for v in pdf["embedding"]])
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -cos))
    expected = pdf["vec_id"].to_numpy()[order][:10].tolist()

    got = [r["vec_id"] for r in similarity_topk(e, q.tolist(), k=10).collect()]
    assert got == expected


def test_similarity_lsh_recall(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    exact = {r["vec_id"] for r in similarity_topk(e, qv, k=10).collect()}
    # 4 planes → 16 buckets over 500 vectors; multi-probe scans ~5/16 of
    # the corpus. Near-random synthetic embeddings are LSH's worst case,
    # so the recall bar is modest; the query vector itself must always
    # land in its own bucket.
    ann = {r["vec_id"] for r in similarity_topk_lsh(e, qv, k=10, n_planes=4).collect()}
    assert 0 in ann
    assert len(exact & ann) >= 5


def test_knn_join_self_is_rank_one(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = knn_join(queries, e, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rows in by_q.items():
        best = min(rows, key=lambda r: r["rank"])
        assert best["vec_id"] == q_id  # cosine(v, v) = 1 is the top hit
        assert best["score"] == pytest.approx(1.0, abs=1e-9)


# ------------------------------------------------------------------- text


def test_quality_score_ordering(spark):
    df = _docs(
        spark,
        [
            (1, BASE),  # clean english prose
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),  # punctuation soup
        ],
    )
    got = {r["doc_id"]: r["q"] for r in df.select("doc_id", quality_score("text").alias("q")).collect()}
    assert 0.0 <= got[2] < got[1] <= 1.0


def test_lang_id_heuristics(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog is in that house for the winter"),
            (2, "der hund und die katze ist nicht mit den kindern"),
            (3, "el perro y la casa de los niños en un puerto"),
            (4, "这是一个中文句子 关于数据处理 的简单测试"),
        ],
    )
    got = {r["doc_id"]: r["lid"]["lang"] for r in df.select("doc_id", lang_id("text").alias("lid")).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "zh"}


def test_token_count_modes(spark):
    df = _docs(spark, [(1, "hello, world 42x")])
    row = df.select(
        token_count("text", mode="whitespace").alias("ws"),
        token_count("text", mode="bpe").alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 3
    assert row["bpe"] == 5  # hello , world 42 x


def test_doc_fingerprint_order_invariant(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "gamma alpha beta alpha"), (3, "alpha beta delta")])
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", doc_fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_tfidf_rare_term_wins(spark):
    df = _docs(
        spark,
        [
            (1, "common common rareword"),
            (2, "common filler"),
            (3, "common other words"),
        ],
    )
    top = tfidf_top_terms(df, top_k=1).collect()
    doc1 = [r for r in top if r["doc_id"] == 1][0]
    assert doc1["term"] == "rareword"  # df=1 beats the ubiquitous 'common'


# ------------------------------------------------------------- multimodal


def test_fake_payload_roundtrip():
    p = fake_payload("audio/wav", 0, 0, n_frames=100, sample_rate=16000, body=b"pcm")
    meta = parse_fake_header(p)
    assert meta["mime"] == "audio/wav"
    assert meta["sample_rate"] == 16000
    assert meta["body_len"] == 3


def test_parse_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        parse_fake_header(b"\x89PNG\r\n\x1a\n....")


def test_pack_decode_media(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(20)
    out = decode_media(pack_media(d, text_col="text", id_col="doc_id")).collect()
    src = {r["doc_id"]: r["text"] for r in d.collect()}
    assert len(out) == 20
    for r in out:
        assert r["mime"] == "image/png"
        assert r["width"] == r["media_id"] % 640 + 16
        assert r["body_len"] == len(src[r["media_id"]].encode())


def test_sample_frames_every_n(spark):
    media = spark.createDataFrame([(1, 7), (2, 1)], "media_id long, nf int").select(
        "media_id",
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.col("nf").alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    rows = sample_frames(media, every_n=3).collect()
    got = sorted((r["media_id"], r["frame_idx"]) for r in rows)
    assert got == [(1, 0), (1, 3), (1, 6), (2, 0)]


# ------------------------------------------------------- IVF / embedding dedup


def test_similarity_ivf_recall(spark, sf_dir):
    from palo_spark.operators import similarity_topk_ivf

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    exact = {r["vec_id"] for r in similarity_topk(e, qv, k=10).collect()}
    ann = {r["vec_id"] for r in similarity_topk_ivf(e, qv, k=10, n_cells=8, nprobe=3).collect()}
    assert 0 in ann  # the query's own vector is in the probed cell
    assert len(exact & ann) >= 5
    # nprobe = n_cells probes everything → exact
    full = {r["vec_id"] for r in similarity_topk_ivf(e, qv, k=10, n_cells=8, nprobe=8).collect()}
    assert full == exact


def test_ivf_assign_is_argmax_cosine(spark, sf_dir):
    from palo_spark.operators import ivf_assign, train_centroids

    e = load_table(spark, sf_dir, "embeddings").limit(50)
    cents = train_centroids(e, n_cells=4, iterations=1)
    got = e.select("vec_id", ivf_assign("embedding", cents).alias("cell")).toPandas()
    C = np.stack([np.asarray(c) for c in cents])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    vecs = e.select("vec_id", "embedding").toPandas()
    merged = got.merge(vecs, on="vec_id")
    for _, row in merged.iterrows():
        v = np.asarray(row["embedding"], dtype=float)
        sims = Cn @ (v / np.linalg.norm(v))
        assert int(row["cell"]) == int(np.argmax(sims))


def test_ivf_assign_quantized_ties_to_higher_cell(spark):
    """The quantized assignment's tie contract (ties → HIGHER cell =
    array_max struct ordering) is what every Lloyd-replay oracle's
    `ORDER BY score DESC, cell DESC` mirrors — pinned here against the
    transform-based formulation so a future refactor can't silently
    flip it. Duplicate centroids force exact score ties."""
    from palo_spark.operators import ivf_assign

    cents = [[1.0, 0.0], [0.0, 1.0], [1.0, 0.0]]  # cells 0 and 2 identical
    df = spark.createDataFrame(
        [(1, [2.0, 0.1]), (2, [0.1, 2.0])], "vec_id int, v array<double>"
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", ivf_assign("v", cents, quantized=True).alias("cell")
        ).collect()
    }
    assert got == {1: 2, 2: 1}  # tie between cells 0 and 2 → 2


def test_ivf_assign_quantized_null_ragged_and_zero_centroid(spark):
    """ADVICE r7: NULL / wrong-dimension embedding rows must yield a
    NULL cell (the expression path's behavior) instead of crashing the
    whole Arrow batch, and a zero-norm centroid must fail loud rather
    than silently skewing the argmax with inf/NaN scores."""
    import pytest

    from palo_spark.operators import ivf_assign

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [2.0, 0.1]), (2, None), (3, [1.0, 2.0, 3.0]), (4, [0.1, 2.0])],
        "vec_id int, v array<double>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", ivf_assign("v", cents, quantized=True).alias("cell")
        ).collect()
    }
    assert got == {1: 0, 2: None, 3: None, 4: 1}
    with pytest.raises(ValueError, match="qdot"):
        ivf_assign("v", [[1.0, 0.0], [0.0, 0.0]], quantized=True)


def test_dedup_embedding_cosine_removes_planted(spark, sf_dir):
    from palo_spark.operators import dedup_embedding_cosine

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    dup = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    out = dedup_embedding_cosine(e.unionByName(dup), threshold=0.99)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    # every planted scaled copy (cosine exactly 1) removed, originals kept
    assert ids == set(range(100))


def test_embedding_lsh_candidate_pairs_prune(spark, sf_dir):
    """The LSH band join must PRUNE: with 8-bit band keys the candidate
    set on uncorrelated vectors stays far below all-pairs (the round-3
    2-bit parameterization generated ~25% of all-pairs per band — a plan
    that dies at scale even though exact-verify kept the answer right)."""
    from palo_spark.operators.dedup import embedding_dup_pairs
    from palo_spark.operators.similarity import hyperplanes, lsh_band_bits

    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    n = e.count()
    dim = len(e.head()["embedding"])
    planes = hyperplanes(dim, 128, 42)
    buckets = e.select(
        F.col("vec_id").alias("__id"),
        F.posexplode(lsh_band_bits(F.col("embedding"), planes, 16)).alias(
            "band", "bits"
        ),
    )
    a = buckets.select(F.col("__id").alias("ia"), "band", "bits")
    b = buckets.select(F.col("__id").alias("ib"), "band", "bits")
    cand = (
        a.join(b, ["band", "bits"])
        .filter(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    # near-random vectors: expected candidate fraction is bands/2^bits
    # = 16/256 ≈ 6.25% of all-pairs (observed ~7% on this fixture).
    # Bound at 10%: the round-3 2-bit keys put EVERY band at ~25% of
    # all-pairs (union → nearly all of them); 8-bit keys must stay an
    # order of magnitude below that, and production corpora raise
    # bits-per-band toward log2(n) to hold occupancy constant.
    assert cand < all_pairs * 0.10, f"{cand} candidates vs {all_pairs} all-pairs"
    # and the exact pipeline still returns its pairs on planted dups
    dup = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(3.0)).alias("embedding"),
    )
    pairs = embedding_dup_pairs(e.unionByName(dup), threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, i + 900000) for i in range(0, 400, 50)} <= got


def test_resize_and_feature_extract_deterministic(spark, sf_dir):
    from palo_spark.catalog import load_table
    from palo_spark.operators import (
        decode_media,
        extract_features,
        pack_media,
        resize_media,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    media = pack_media(d, text_col="text", id_col="doc_id")
    resized = resize_media(media, 8, 4)
    meta = {r["media_id"]: r for r in decode_media(resized).collect()}
    assert all(m["width"] == 8 and m["height"] == 4 and m["body_len"] == 32
               for m in meta.values())
    f1 = {r["media_id"]: r["features"] for r in extract_features(resized, dim=4).collect()}
    f2 = {r["media_id"]: r["features"] for r in extract_features(resized, dim=4).collect()}
    assert f1 == f2  # deterministic function of payload bytes
    assert all(len(v) == 4 and all(-1.0 <= x <= 1.0 for x in v) for v in f1.values())


def test_resolve_dup_clusters_transitive(spark):
    """Chains collapse: A~B, B~C (never A~C) → one cluster; pointer
    jumping converges on a 6-long chain well inside max_iter."""
    from palo_spark.operators import dedup_by_clusters, resolve_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (7, 3)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["cluster"] for r in resolve_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 5, 7, 10, 11, 20]], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in dedup_by_clusters(docs, pairs).collect())
    assert kept == [1, 10, 20]  # unpaired 20 survives untouched


def test_hash_sampling_partition_independent(spark, sf_dir):
    """xxhash64 mode: membership is a pure function of (id, seed) —
    identical row set under any repartitioning; fraction lands near
    target; nested samples are subsets; disjoint seeds differ."""
    from palo_spark.catalog import load_table
    from palo_spark.operators.sampling import sample_hash

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    s1 = set(r[0] for r in sample_hash(d, "doc_id", 0.4, seed=3).collect())
    s1_repart = set(
        r[0]
        for r in sample_hash(d.repartition(13, "doc_id"), "doc_id", 0.4, seed=3).collect()
    )
    assert s1 == s1_repart
    assert abs(len(s1) / n - 0.4) < 0.1
    s_small = set(r[0] for r in sample_hash(d, "doc_id", 0.1, seed=3).collect())
    assert s_small <= s1
    s_other = set(r[0] for r in sample_hash(d, "doc_id", 0.4, seed=4).collect())
    assert s_other != s1


def test_mix_sources_weights(spark, sf_dir):
    """weight=2.5 emits each row 2 or 3 times; weight=0.25 emits 0/1."""
    from palo_spark.catalog import load_table
    from palo_spark.operators.sampling import mix_sources
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s0 = d.filter(F.col("source") == "src0")
    mixed = mix_sources([(s0, 2.5)], "doc_id")
    per_doc = mixed.groupBy("doc_id").count().collect()
    assert all(r["count"] in (2, 3) for r in per_doc)
    n0 = s0.count()
    assert abs(mixed.count() / n0 - 2.5) < 0.35


def test_chunk_documents_coverage(spark):
    """Every token is covered; consecutive chunks share exactly
    `overlap` tokens; tail chunk is never pure overlap; short docs
    yield one whole-doc chunk."""
    from palo_spark.operators import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),   # 40 toks: starts 1, 25
            (2, " ".join(f"w{i}" for i in range(10))),   # short: 1 chunk
            (3, " ".join(f"w{i}" for i in range(32))),   # exact: 1 chunk
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_size=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [len(by_doc[i]) for i in (1, 2, 3)] == [2, 1, 1]
    c0, c1 = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    t0, t1 = c0["chunk_text"].split(" "), c1["chunk_text"].split(" ")
    assert t0 == [f"w{i}" for i in range(32)]
    assert t1 == [f"w{i}" for i in range(24, 40)]  # 16 toks > overlap
    assert set(t0) & set(t1) == {f"w{i}" for i in range(24, 32)}  # 8 shared
    assert by_doc[2][0]["n_tokens"] == 10 and by_doc[3][0]["n_tokens"] == 32


def test_resolve_dup_clusters_random_graphs(spark):
    """30 random graphs (chains, stars, cycles, forests) namespaced into
    one disjoint edge list; one Spark run must match a pure-python
    union-find on every graph."""
    import random

    rng = random.Random(42)
    edges = []
    expected_parent = {}

    def uf_build(nodes, pair_list):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pair_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-id root per node
        return {n: find(n) for n in nodes}

    for g in range(30):
        base = g * 100000
        n = rng.randint(2, 40)
        nodes = [base + i for i in range(n)]
        m = rng.randint(1, 60)
        pairs = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(m)]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            pairs = [(nodes[0], nodes[1])]
        edges.extend(pairs)
        labels = uf_build(nodes, pairs)
        touched = {x for p in pairs for x in p}
        # roots must be the min reachable id *within touched nodes*
        comp = {}
        for t in touched:
            comp.setdefault(labels[t], []).append(t)
        for root, members in comp.items():
            mn = min(members)
            for t in members:
                expected_parent[t] = mn

    from palo_spark.operators import resolve_dup_clusters

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["cluster"] for r in resolve_dup_clusters(df).collect()}
    assert got == expected_parent


def test_pack_sequences_offsets_and_budget(spark):
    from palo_spark.operators import pack_sequences

    rows = [(i, 1, 100) for i in range(10)]  # 10 chunks x 100 tokens, one shard
    df = spark.createDataFrame(rows, "chunk_id int, shard int, n_tokens int")
    out = (
        pack_sequences(df, "n_tokens", "chunk_id", max_tokens=256, part_cols=["shard"])
        .orderBy("chunk_id")
        .collect()
    )
    # offsets are the running token stream; seq k owns starts in [256k, 256k+256)
    assert [r["seq_offset"] for r in out] == [i * 100 for i in range(10)]
    assert [r["seq_id"] for r in out] == [(i * 100) // 256 for i in range(10)]
    # every sequence's owned chunks START within budget
    for r in out:
        assert r["seq_offset"] - r["seq_id"] * 256 < 256


def test_contamination_score_bounds(spark, sf_dir):
    from palo_spark.catalog import load_table
    from palo_spark.operators import contamination_score

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 10).select("doc_id", "text")
    corpus = (
        d.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
        .select("doc_id", "text")
        .unionByName(bench.withColumn("doc_id", F.col("doc_id") + F.lit(777000)))
    )
    got = {r["doc_id"]: r for r in contamination_score(corpus, bench, n=8).collect()}
    # planted benchmark copies are fully contaminated; all scores in [0, 1]
    for i in range(10):
        r = got[777000 + i]
        if r["n_grams"] > 0:
            assert r["contamination"] == 1.0
    assert all(0.0 <= r["contamination"] <= 1.0 for r in got.values())


def test_knn_join_lsh_recall_and_pruning(spark, sf_dir):
    """The LSH knn join must (a) recall most exact neighbors, (b) score
    far fewer candidate pairs than |Q|x|C| — the property that makes it
    the many-query form."""
    from palo_spark.operators import knn_join, knn_join_lsh
    from palo_spark.operators.similarity import hyperplanes, lsh_band_bits

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_c = e.count()
    qs = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in knn_join(qs, e, k=3, quantized=True).collect()
    }
    ann = {
        (r["q_id"], r["vec_id"])
        for r in knn_join_lsh(qs, e, k=3, quantized=True).collect()
    }
    assert len(exact & ann) >= len(exact) * 0.5
    assert {(q, q) for q in range(10)} <= ann  # self always a candidate
    # candidate pruning: pairs actually scored << |Q| x |C|
    dim = len(e.head()["embedding"])
    planes = hyperplanes(dim, 64, 42)
    qb = qs.select("q_id", F.posexplode(lsh_band_bits("q_vec", planes, 16)).alias("b", "v"))
    cb = e.select("vec_id", F.posexplode(lsh_band_bits("embedding", planes, 16)).alias("b", "v"))
    cand = qb.join(cb, ["b", "v"]).select("q_id", "vec_id").distinct().count()
    assert cand < 10 * n_c * 0.7, f"{cand} candidates vs {10 * n_c} cross pairs"


def test_remove_boilerplate_lines_semantics(spark):
    from palo_spark.operators import remove_boilerplate_lines

    docs = [
        (1, "cookie banner\nunique prose one\ncookie banner"),
        (2, "cookie banner\nother text here"),
        (3, "cookie banner"),  # all-boilerplate doc -> ''
        (4, "standalone document"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines_kept"])
        for r in remove_boilerplate_lines(df, min_docs=2).collect()
    }
    assert got[1] == ("unique prose one", 1)
    assert got[2] == ("other text here", 1)
    assert got[3] == ("", 0)
    assert got[4] == ("standalone document", 1)


def test_minhash_kernel_matches_object_math():
    """Pin the uint64 split-multiply kernel to exact Python-int math
    (the r4 object-dtype form): bit-identical (a*h+b) mod 2^61-1 for
    adversarial h including negative int64 base hashes."""
    import numpy as np
    from palo_spark.operators.dedup import _MINHASH_P, _minhash_coeffs, _permute_mod_p

    a, b = _minhash_coeffs(64)
    rng = np.random.default_rng(7)
    h_i64 = np.concatenate(
        [
            rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64),
            np.array(
                [0, -1, 1, 2**62, -(2**62), _MINHASH_P, _MINHASH_P - 1, -_MINHASH_P],
                dtype=np.int64,
            ),
        ]
    )
    h_u = h_i64.view(np.uint64) & np.uint64(_MINHASH_P)
    got = _permute_mod_p(h_u, a.astype(np.uint64), b.astype(np.uint64))
    # reference: exact Python-int arithmetic (what v2 computed)
    a_o, b_o = a.astype(object), b.astype(object)
    h_o = h_i64.astype(object) & _MINHASH_P
    want = (a_o[:, None] * h_o[None, :] + b_o[:, None]) % _MINHASH_P
    assert (got.astype(object) == want).all()


def test_minhash_signature_batch_edge_cases(spark):
    """Empty/NULL shingle arrays produce the sentinel signature; the
    flat-batch reduceat path must not leak a neighbor's minima into
    empty rows (including trailing empties)."""
    import numpy as np
    from pyspark.sql import functions as F
    from palo_spark.operators.dedup import _MINHASH_P, minhash_signature

    df = spark.createDataFrame(
        [("a", ["x", "y", "z"]), ("b", []), ("c", ["x", "y", "z"]), ("d", None), ("e", [])],
        "id string, sh array<string>",
    )
    rows = {r["id"]: r["sig"] for r in df.select("id", minhash_signature(F.col("sh")).alias("sig")).collect()}
    sentinel = [_MINHASH_P] * 64
    assert rows["b"] == sentinel and rows["d"] == sentinel and rows["e"] == sentinel
    assert rows["a"] == rows["c"] and rows["a"] != sentinel


def test_minhash_signature_multi_chunk_batch(spark):
    """One Arrow batch cut into several kernel blocks: a row larger than
    a block, empty and NULL rows opening and closing blocks. Every
    signature equals the per-row Python-int reference."""
    from palo_spark.operators.dedup import (
        _MINHASH_P,
        _SIG_CHUNK,
        _minhash_coeffs,
        minhash_signature,
    )

    def words(n, tag):
        return [f"{tag}{i}" for i in range(n)]

    shs = [
        [],                                # empty row opens the batch's first block
        words(_SIG_CHUNK + 100, "big"),    # more shingles than a block: a block of its own
        None,                              # NULL row opens the next block
        words(50, "s"),
        words(_SIG_CHUNK - 50, "m"),       # fills the NULL row's block to exactly a block
        [],                                # empty row closes it (zero width still fits)
        words(1500, "m"),                  # overflows: new block, shares shingles with row 4
        None,                              # NULL row closes that block
        words(600, "t"),                   # overflows again
        [],
        words(3, "s"),
        None,                              # trailing NULL
    ]
    df = spark.createDataFrame(
        list(enumerate(shs)), "id int, sh array<string>"
    ).coalesce(1)  # one partition: all rows in one Arrow batch
    got = {
        r["id"]: (r["sig"], r["h"])
        for r in df.select(
            "id",
            minhash_signature(F.col("sh")).alias("sig"),
            F.transform("sh", lambda x: F.xxhash64(x)).alias("h"),
        ).collect()
    }
    a, b = _minhash_coeffs(64)
    for i, sh in enumerate(shs):
        sig, hashes = got[i]
        if not sh:
            want = [_MINHASH_P] * 64
        else:
            hs = [h & _MINHASH_P for h in hashes]
            want = [
                min((int(ai) * h + int(bi)) % _MINHASH_P for h in hs)
                for ai, bi in zip(a, b)
            ]
        assert sig == want, i


def test_lsh_band_bits_null_and_ragged_vectors(spark):
    """NULL / wrong-length embeddings yield NULL signatures (row drops
    out of band joins) instead of failing the whole Arrow batch."""
    from pyspark.sql import functions as F
    from palo_spark.operators.similarity import hyperplanes, lsh_band_bits

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, None), (3, [1.0]), (4, [4.0, 3.0, 2.0, 1.0])],
        "id int, emb array<double>",
    )
    planes = hyperplanes(4, 8, seed=1)
    rows = {r["id"]: r["sig"] for r in df.select("id", lsh_band_bits(F.col("emb"), planes, 4).alias("sig")).collect()}
    assert rows[2] is None and rows[3] is None
    assert rows[1] is not None and rows[4] is not None and len(rows[1]) == 4


def test_pack_sequences_rejects_oversize_chunk(spark):
    import pytest
    from palo_spark.operators.text import pack_sequences

    df = spark.createDataFrame(
        [(1, 100), (2, 5000)], "chunk_id int, n_tokens int"
    )
    with pytest.raises(Exception, match="exceeds max_tokens"):
        pack_sequences(df, max_tokens=2048).collect()
    ok = pack_sequences(df.filter("n_tokens <= 2048"), max_tokens=2048).collect()
    assert ok[0]["seq_offset"] == 0


def test_intra_doc_line_dedup_preserves_order(spark):
    from palo_spark.operators import dedup_intra_doc_lines

    df = spark.createDataFrame(
        [(1, "b\na\nb\nc\na"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_intra_doc_lines(df).collect()}
    assert out[4]["text_dedup"] is None and out[4]["n_lines"] is None
    assert out[1]["text_dedup"] == "b\na\nc"
    assert out[1]["n_lines"] == 5 and out[1]["n_lines_dedup"] == 3
    assert out[2]["text_dedup"] == "x"
    assert out[3]["n_lines_dedup"] == 1  # one empty line
    # fully native — no Python in the plan
    plan = dedup_intra_doc_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_dedup_normalization(spark):
    from palo_spark.operators import dedup_by_url, normalize_url
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (5, "https://www.Site.com/a/?q=1"),
            (2, "HTTP://site.com/a/"),
            (9, "site.com/a#frag"),
            (1, "https://other.com/b"),
            (7, None),
            (8, None),
        ],
        "doc_id long, url string",
    )
    norms = df.select(normalize_url(F.col("url")).alias("n")).collect()
    assert {r["n"] for r in norms} == {"site.com/a", "other.com/b", None}
    kept = sorted(r["doc_id"] for r in dedup_by_url(df).collect())
    # lowest id per canonical URL; NULL-url docs never merge together
    assert kept == [1, 2, 7, 8]


def test_pca_fit_matches_numpy_and_projects(spark):
    import numpy as np
    from palo_spark.operators import pca_fit, pca_project

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance concentrated in 2 directions
    base = rng.normal(size=(300, 2)) @ np.array([[5.0, 0, 0, 0], [0, 2.0, 0, 0]])
    X = base + rng.normal(scale=0.1, size=(300, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(300)] + [(999, None)],
        "id long, embedding array<double>",
    ).repartition(5)
    model = pca_fit(df, k=2)
    assert model["n"] == 300 and model["n_skipped"] == 1
    # numpy reference on the same data
    mean = X.mean(axis=0)
    cov = (X - mean).T @ (X - mean) / 300
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(model["eigenvalues"], evals[:2], rtol=1e-8)
    assert np.allclose(model["mean"], mean, rtol=1e-8, atol=1e-10)
    assert abs(model["trace"] - np.trace(cov)) < 1e-8
    # top component captures the dominant direction
    assert model["explained_variance_ratio"][0] > 0.8
    # components orthonormal
    C = np.asarray(model["components"])
    assert np.allclose(C @ C.T, np.eye(2), atol=1e-9)

    out = {r["id"]: r["pca"] for r in pca_project(df, model).collect()}
    assert out[999] is None
    P = np.stack([out[i] for i in range(300)])
    ref = (X - mean) @ C.T
    assert np.allclose(P, ref, atol=1e-9)
    # projection variance per component equals the eigenvalues
    assert np.allclose(P.var(axis=0), model["eigenvalues"], rtol=1e-6)


def test_heavy_hitters_exact_and_sketch_modes(spark):
    from palo_spark.operators.sampling import heavy_hitters
    import random

    random.seed(4)
    # zipf-ish: value i appears ~ 1000/i times
    rows = [(f"v{i}",) for i in range(1, 40) for _ in range(1000 // i)]
    random.shuffle(rows)
    df = spark.createDataFrame(rows, "x string").repartition(6)
    # exact mode: capacity >= NDV
    out = heavy_hitters(df, "x", k=5, capacity=100).collect()
    assert [r["value"] for r in out] == ["v1", "v2", "v3", "v4", "v5"]
    assert [r["est_count"] for r in out] == [1000, 500, 333, 250, 200]
    assert all(r["max_err"] == 0 for r in out)
    # sketch mode: tight capacity still surfaces the true heavy hitters
    # with the overestimate-only guarantee
    sk = {r["value"]: r for r in heavy_hitters(df, "x", k=5, capacity=12).collect()}
    assert "v1" in sk and "v2" in sk
    assert sk["v1"]["est_count"] >= 1000  # never underestimates
    assert sk["v1"]["est_count"] - sk["v1"]["max_err"] <= 1000


def test_grouped_heavy_hitters_exact_mode(spark):
    from palo_spark.operators.sampling import grouped_heavy_hitters
    from pyspark.sql import functions as F

    rows = [(g, f"v{i % (3 + g)}") for g in range(3) for i in range(120)]
    df = spark.createDataFrame(rows, "g int, x string").repartition(4)
    out = grouped_heavy_hitters(df, "g", "x", k=2, capacity=64).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append((r["rank"], r["value"], r["est_count"], r["max_err"]))
    # group g has (3+g) distinct values over 120 rows, uniform-ish:
    # counts are 40/40/40 (g=0), 30/30/30/30 (g=1), 24x5 (g=2); ties
    # break by value asc so rank 1..2 = v0, v1 everywhere
    for g in range(3):
        got = sorted(by_g[g])
        assert [x[1] for x in got] == ["v0", "v1"]
        assert all(x[3] == 0 for x in got)  # exact mode
        assert got[0][2] == 120 // (3 + g)


def test_training_order_partitioning_independent(spark):
    """(shard, pos) must be a pure function of (id, seed): any input
    partitioning / ordering yields the identical global shuffle order."""
    from palo_spark.operators.sampling import training_order

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = training_order(df, "doc_id", shards=8, seed=3)
    b = training_order(
        df.repartition(13).sortWithinPartitions(F.desc("doc_id")),
        "doc_id", shards=8, seed=3,
    )
    ra = {r["doc_id"]: (r["shard"], r["pos"]) for r in a.collect()}
    rb = {r["doc_id"]: (r["shard"], r["pos"]) for r in b.collect()}
    assert ra == rb
    # pos is 1..n_s contiguous within every shard; shards roughly even
    from collections import Counter
    sizes = Counter(s for s, _ in ra.values())
    assert len(sizes) == 8
    assert max(sizes.values()) < 2 * min(sizes.values())
    for s in sizes:
        ps = sorted(p for sh, p in ra.values() if sh == s)
        assert ps == list(range(1, len(ps) + 1))
    # a different seed is a different permutation
    c = training_order(df, "doc_id", shards=8, seed=4)
    rc = {r["doc_id"]: (r["shard"], r["pos"]) for r in c.collect()}
    assert rc != ra


def test_substring_dedup_hashed_equals_exact_and_winnow_recall(spark, sf_dir):
    """xxhash64 gram keying must agree with exact span keying on the
    fixture, and winnowing (window=4) must catch every shared span of
    length >= k + w - 1 = 19 (content-defined selection is offset-
    independent, so both copies select an identical gram)."""
    from pyspark.sql import functions as F

    from palo_spark.operators import substring_dup_docs

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    planted = (
        d.filter(F.col("doc_id") % 5 == 0)
        .withColumn("__t", toks)
        .filter(F.size("__t") >= 30)
        .select(
            (F.col("doc_id") + 900000).alias("doc_id"),
            F.concat(
                F.lit("aa bb cc "), F.array_join(F.slice("__t", 3, 20), " ")
            ).alias("text"),
        )
    )
    allv = d.unionByName(planted)
    exact = {
        r.doc_id
        for r in substring_dup_docs(allv, k=16, hash_grams=False).select("doc_id").collect()
    }
    hashed = {
        r.doc_id
        for r in substring_dup_docs(allv, k=16, hash_grams=True).select("doc_id").collect()
    }
    assert exact == hashed
    # winnowing: shared run is 20 tokens, k=16, w=4 → guarantee needs
    # span >= k + w - 1 = 19 <= 20 ✓, at ~2/(w+1) of the gram volume
    winnowed = {
        r.doc_id
        for r in substring_dup_docs(allv, k=16, window=4).select("doc_id").collect()
    }
    assert planted.count() > 0
    assert not any(v >= 900000 for v in winnowed)


def test_token_budget_overshoot_and_partition_independence(spark, sf_dir):
    """Per group: tokens-before-last-kept < budget (overshoot <= 1 doc),
    and the selected id set is identical under a different input
    partitioning (the quota is a pure function of ids and token counts)."""
    from palo_spark.operators.sampling import sample_token_budget

    d = load_table(spark, sf_dir, "documents")
    kept = sample_token_budget(
        d, "doc_id", budget=1500, group_col="source", seed=3, mode="minstd"
    )
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    ids_repart = {
        r.doc_id
        for r in sample_token_budget(
            d.repartition(13, "lang"), "doc_id", budget=1500,
            group_col="source", seed=3, mode="minstd",
        ).select("doc_id").collect()
    }
    assert ids == ids_repart and ids
    # budget check: total tokens minus the largest kept doc < budget
    stats = (
        kept.withColumn("__n", F.size(F.split(F.trim("text"), r"\s+")))
        .groupBy("source")
        .agg(F.sum("__n").alias("tot"), F.max("__n").alias("mx"))
        .collect()
    )
    assert stats and all(r.tot - r.mx < 1500 for r in stats)


def test_split_by_group_no_straddle_and_inheritance(spark):
    from palo_spark.operators.sampling import split_by_group

    # 60 rows in 20 groups (3 rows each) — every row must inherit its
    # group's split; no group may straddle splits at any seed
    df = spark.createDataFrame(
        [(i, i % 20) for i in range(60)], "rid int, grp int"
    )
    for seed in (0, 7, 101):
        out = split_by_group(
            df, "grp", "rid", {"train": 0.8, "val": 0.1, "test": 0.1},
            seed=seed,
        )
        per_group = (
            out.groupBy("grp")
            .agg(F.countDistinct("split").alias("ns"), F.count("*").alias("n"))
            .collect()
        )
        assert all(r["ns"] == 1 and r["n"] == 3 for r in per_group), seed
    # deterministic under repartition (re-shard stability)
    a = {r["rid"]: r["split"] for r in split_by_group(
        df, "grp", "rid", {"train": 0.5, "test": 0.5}, seed=3).collect()}
    b = {r["rid"]: r["split"] for r in split_by_group(
        df.repartition(13), "grp", "rid", {"train": 0.5, "test": 0.5}, seed=3
    ).collect()}
    assert a == b


def test_corpus_line_dedup_edges(spark):
    """Corpus-wide line dedup edges: a doc whose EVERY line appeared
    earlier keeps 0 lines and empty text; an intra-doc duplicate keeps
    only its first position; the earliest (doc, pos) always wins."""
    from palo_spark.operators import corpus_line_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha\nbeta\nalpha"),   # intra-doc dup of "alpha"
            (2, "beta\nalpha"),          # fully boilerplate vs doc 1
            (3, "gamma\nbeta"),          # one fresh line
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: (r["n_lines"], r["n_lines_kept"], r["text_dedup"])
        for r in corpus_line_dedup(df).collect()
    }
    assert rows[1] == (3, 2, "alpha\nbeta")
    assert rows[2] == (2, 0, "")
    assert rows[3] == (2, 1, "gamma")


def test_semantic_decontaminate_guard_and_planted(spark):
    """semantic_decontaminate: planted scaled copies of bench vectors
    vanish, unrelated vectors survive, and a bench larger than
    max_literal fails loud instead of building a megabyte plan."""
    import pytest as _pytest

    from palo_spark.operators import semantic_decontaminate

    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0]),   # scaled bench copy -> dropped
            (11, [0.0, 0.0, 5.0]),   # orthogonal -> kept
            (12, [0.0, 3.0, 0.01]),  # near-copy of bench 1 -> dropped
        ],
        "vec_id int, embedding array<double>",
    )
    kept = {
        r["vec_id"]
        for r in semantic_decontaminate(corpus, bench, threshold=0.99).collect()
    }
    assert kept == {11}
    with _pytest.raises(ValueError, match="max_literal"):
        semantic_decontaminate(corpus, bench, threshold=0.99, max_literal=1)


def test_gopher_rules_battery(spark):
    """Gopher rule battery edges: short doc fails word count, '#'-heavy
    fails hash ratio, bullet lists fail bullet-lines, prose passes."""
    from palo_spark.operators import gopher_rules

    prose = ("the quick brown fox jumps over the lazy dog and that have "
             "with be to of " * 6).strip()  # 84 words, all rules pass
    short = "too short to count"
    hashy = " ".join(["#tag"] * 60) + " the be"  # every word has '#'
    bullets = "\n".join(["- item %d" % i for i in range(10)]) + "\nthe be " + (
        "word " * 60
    )
    df = spark.createDataFrame(
        [(1, prose), (2, short), (3, hashy), (4, bullets)], "doc_id int, text string"
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_rules(df, "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["r_word_count"] is False and out[2]["keep"] is False
    assert out[3]["r_hash_ratio"] is False
    # 10 of 11 non-empty lines are bullets (91% > the 90% bound) -> fails
    assert out[4]["r_bullet_lines"] is False
    # mostly-prose doc with a couple of bullets passes the bound
    mixed = "\n".join(["- item", "- item2"] + ["prose line %d" % i for i in range(8)])
    df2 = spark.createDataFrame([(5, mixed)], "doc_id int, text string")
    r5 = gopher_rules(df2, "text", min_words=5).collect()[0]
    assert r5["r_bullet_lines"] is True


def test_gopher_repetition_metrics(spark):
    from palo_spark.operators import gopher_repetition

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),        # 'spam ham' x3 dominates
            (2, "all words here are fully distinct"), # no duplicate bigram
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_repetition(df, "text").collect()}
    # doc 1: bigrams = [spam ham, ham spam, spam ham, ham spam, spam ham]
    assert out[1]["top_bigram"] == "spam ham" and out[1]["top_n"] == 3
    # top chars = 3*8=24 of 21 word chars (3x'spam'=12 + 3x'ham'=9) ->
    # ppm > 1e6 (occurrences counted independently, documented); dup
    # covers both repeated bigrams ('spam ham' x3 + 'ham spam' x2)
    assert out[1]["top2_ppm"] == (3 * 8 * 1000000) // 21
    assert out[1]["dup2_ppm"] == ((3 * 8 + 2 * 8) * 1000000) // 21
    assert out[2]["top_n"] == 1 and out[2]["dup2_ppm"] == 0


def test_ivf_assign_expression_path_null_on_ragged(spark):
    """r8 self-review: the non-quantized expression path must NULL a
    wrong-dimension vector like the quantized kernel does — zip_with
    would otherwise score the truncated prefix and assign a bogus
    cell."""
    from palo_spark.operators import ivf_assign

    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [2.0, 0.1]), (2, None), (3, [1.0, 2.0, 3.0])],
        "vec_id int, v array<double>",
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in df.select(
            "vec_id", ivf_assign("v", cents).alias("cell")
        ).collect()
    }
    assert got == {1: 0, 2: None, 3: None}
