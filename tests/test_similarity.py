"""Similarity search: ANN recall vs exact brute force."""

from __future__ import annotations

from iceberg_matrix_spark.operators.similarity import (
    q_ann_bruteforce_topk,
    q_ann_lsh_topk,
)


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = q_ann_bruteforce_topk(spark, sf_dir).collect()
    approx = q_ann_lsh_topk(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    # every query answered
    assert set(exact_sets) == set(approx_sets)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    avg_recall = sum(recalls) / len(recalls)
    # 4-bit bands × 4 probes on random data: modest but real recall floor
    assert avg_recall >= 0.3, f"ANN recall collapsed: {avg_recall} ({recalls})"


def test_bruteforce_scores_sorted_and_bounded(spark, sf_dir):
    rows = q_ann_bruteforce_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        scores = [r.score for r in rs]
        assert all(-1.0001 <= s <= 1.0001 for s in scores)
        assert scores == sorted(scores, reverse=True)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    from iceberg_matrix_spark.operators.similarity import q_ann_ivf_topk

    exact = q_ann_bruteforce_topk(spark, sf_dir).collect()
    approx = q_ann_ivf_topk(spark, sf_dir).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(exact_sets) == set(approx_sets)
    # IVF scores are exact cosine — any overlap row must agree with
    # brute force on membership; recall floor for nprobe=4 of 16 clusters
    recalls = [
        len(exact_sets[q] & approx_sets[q]) / len(exact_sets[q]) for q in exact_sets
    ]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.3, f"IVF recall collapsed: {avg_recall} ({recalls})"


def test_ivf_deterministic_across_runs(spark, sf_dir):
    from iceberg_matrix_spark.operators.similarity import q_ann_ivf_topk

    one = sorted(map(tuple, q_ann_ivf_topk(spark, sf_dir).collect()))
    two = sorted(map(tuple, q_ann_ivf_topk(spark, sf_dir).collect()))
    assert one == two


def test_cluster_scoped_pairs_match_model(spark, sf_dir):
    """cluster_scoped_neardup == exact all-pairs RESTRICTED to pairs that
    share ≥1 probed cluster (the SemDeDup within-cluster contract): no
    false positives, no in-scope misses, and every pair emitted exactly
    once despite colliding in multiple bands AND multiple shared
    clusters (the smallest-shared-cluster inline dedup)."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        _nearest_clusters,
        cluster_scoped_neardup,
        embedding_neardup_pairs,
        ivf_build_centroids,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb)
    # probe sets read back from the SAME expression the operator uses, so
    # the model tests the scoping/dedup logic, not float reproducibility
    probes = {
        r["vec_id"]: set(r["cids"])
        for r in emb.select(
            "vec_id", _nearest_clusters("embedding", cents, 2).alias("cids")
        ).collect()
    }
    exact = {
        (r["id1"], r["id2"])
        for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
    }
    expected = {(a, b) for (a, b) in exact if probes[a] & probes[b]}

    rows = cluster_scoped_neardup(
        emb, threshold=0.4, nprobe=2, centroids=cents
    ).collect()
    got = [(r["id1"], r["id2"]) for r in rows]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == expected


def test_semantic_scoped_verdicts_follow_min_id_rule(spark, sf_dir):
    from iceberg_matrix_spark.operators.similarity import (
        cluster_scoped_neardup,
        ivf_build_centroids,
        semantic_dedup_scoped,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_build_centroids(emb)
    pairs = cluster_scoped_neardup(emb, threshold=0.4, centroids=cents).collect()
    dropped = {r["id2"] for r in pairs}
    got = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup_scoped(emb, threshold=0.4, centroids=cents).collect()
    }
    assert len(got) == emb.count()
    for vid, keep in got.items():
        assert keep == (vid not in dropped)


def test_seed_centroids_are_lowest_id_embeddings(spark, sf_dir):
    """The certified scoped-dedup quantizer: centroids are the k lowest-id
    embeddings VERBATIM (zero Lloyd steps) — the property that makes the
    whole scoped pipeline reproducible by the DuckDB oracle."""
    from iceberg_matrix_spark.operators.similarity import ivf_seed_centroids
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_seed_centroids(emb, k=4)
    rows = emb.orderBy("vec_id").limit(4).collect()
    assert cents == [[float(x) for x in r["embedding"]] for r in rows]


def test_scoped_bench_split_matches_registered_query(spark, sf_dir):
    """_semantic_scoped_setup/_exec (the bench split) produce the same
    verdicts as the registered query, and setup builds its centroids
    fresh, without reading or filling the session cache."""
    from iceberg_matrix_spark import storage
    from iceberg_matrix_spark.operators.similarity import (
        _semantic_scoped_exec,
        _semantic_scoped_setup,
        q_dedup_semantic_scoped,
    )

    before = storage.cache_stats("ivf-seed")
    handle = _semantic_scoped_setup(spark, sf_dir)
    assert storage.cache_stats("ivf-seed") == before
    split = {(r["vec_id"], r["keep"]) for r in _semantic_scoped_exec(handle).collect()}
    reg = {
        (r["vec_id"], r["keep"])
        for r in q_dedup_semantic_scoped(spark, sf_dir).collect()
    }
    assert split == reg


def test_incremental_scoped_verdicts_match_model(spark, sf_dir):
    """incremental_semantic_verdicts_scoped == the all-pairs incremental
    verdicts RESTRICTED to pairs sharing a probed cluster: dup_of_corpus
    beats dup_in_batch, min-id rule within the batch, scoping applied to
    both candidate joins."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        _nearest_clusters,
        incremental_semantic_verdicts_scoped,
        ivf_seed_centroids,
    )
    from iceberg_matrix_spark.sources.testdata import load_table
    from iceberg_matrix_spark.functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    cents = ivf_seed_centroids(emb, k=8)
    probes = {
        r["vec_id"]: set(r["cids"])
        for r in emb.select(
            "vec_id", _nearest_clusters("embedding", cents, 2).alias("cids")
        ).collect()
    }
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    sim_pairs = {
        (r["i"], r["j"])
        for r in a.join(b, F.col("i") != F.col("j"))
        .filter(cosine("va", "vb") >= 0.4)
        .collect()
    }
    batch_ids = sorted(r["vec_id"] for r in batch.select("vec_id").collect())
    corpus_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    expected = {}
    for v in batch_ids:
        of_c = any(
            (v, c) in sim_pairs and probes[v] & probes[c] for c in corpus_ids
        )
        in_b = any(
            (w, v) in sim_pairs and probes[v] & probes[w]
            for w in batch_ids
            if w < v
        )
        expected[v] = (
            "dup_of_corpus" if of_c else "dup_in_batch" if in_b else "kept"
        )
    got = {
        r["vec_id"]: r["verdict"]
        for r in incremental_semantic_verdicts_scoped(
            batch, corpus, cents, threshold=0.4, nprobe=2
        ).collect()
    }
    assert got == expected


def test_pq_ann_recall_floor(spark, sf_dir):
    """PQ ADC top-10 vs the exact top-10 (q_ann_ivf_exhaustive is exactly
    brute force): recall must clear a floor. On this ISOTROPIC test
    corpus with untrained seed codebooks, measured recall@10 is ~0.3 —
    far above the ~0.02 chance level for top-10-of-500, which is the
    meaningful signal bound here (trained codebooks on clustered real
    embeddings recover most of the rest; Jégou et al. 2011 Fig. 6)."""
    from iceberg_matrix_spark.queries import QUERIES

    exact = QUERIES["q_ann_ivf_exhaustive"](spark, sf_dir).collect()
    pq = QUERIES["q_ann_pq_topk"](spark, sf_dir).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    p = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(e & p) / len(e) >= 0.2


def test_pq_codes_are_compact_and_deterministic(spark, sf_dir):
    """The PQ index is 8 small ints per vector and identical across
    builds (seed codebooks + deterministic tie-break)."""
    from iceberg_matrix_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        pq_encode,
        pq_seed_codebooks,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_seed_codebooks(emb)
    a = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(emb, books).collect()}
    b = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert a == b
    assert all(len(c) == _PQ_M for c in a.values())
    assert all(0 <= x < _PQ_K for c in a.values() for x in c)


def test_product_cid_composes_half_quantizers(spark, sf_dir):
    """product_cid == argmax_lo * k_hi + argmax_hi computed independently
    over the half-dimension codebooks, and every row lands in exactly one
    of the k_lo*k_hi cells."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.functions.vectors import dot
    from iceberg_matrix_spark.operators.similarity import (
        product_cid,
        seed_half_centroids,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    lo, hi = seed_half_centroids(emb, k=4)
    got = {
        r["vec_id"]: r["cid"]
        for r in emb.select(
            "vec_id", product_cid("embedding", lo, hi).alias("cid")
        ).collect()
    }
    assert all(0 <= c < 16 for c in got.values())

    # independent model: argmax by dot over each half, ties to higher id
    rows = emb.select("vec_id", "embedding").collect()
    half = len(rows[0]["embedding"]) // 2

    def argmax(v, cents):
        best = max(
            range(len(cents)),
            key=lambda i: (
                sum(float(a) * b for a, b in zip(v, cents[i])),
                i,
            ),
        )
        return best

    for r in rows:
        v = [float(x) for x in r["embedding"]]
        want = argmax(v[:half], lo) * len(hi) + argmax(v[half:], hi)
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_ivfpq_recall_floor(spark, sf_dir):
    """IVF-PQ's two approximations bounded separately: vs the exact
    top-10 (both PQ distortion AND probe misses) and vs the full-PQ
    ranking (probe misses only — measured ~0.74 at sf0.01, so the coarse
    probe keeps most of what PQ alone would return)."""
    from iceberg_matrix_spark.queries import QUERIES

    exact = QUERIES["q_ann_ivf_exhaustive"](spark, sf_dir).collect()
    full_pq = QUERIES["q_ann_pq_topk"](spark, sf_dir).collect()
    ivfpq = QUERIES["q_ann_ivfpq_topk"](spark, sf_dir).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    p = {(r.query_id, r.neighbor_id) for r in full_pq}
    a = {(r.query_id, r.neighbor_id) for r in ivfpq}
    assert len(e & a) / len(e) >= 0.2
    assert len(p & a) / len(p) >= 0.5
    # the TRAINED composition must hold the same floors (better
    # codewords and centroids should never fall below the seed bars)
    trained = QUERIES["q_ann_ivfpq_trained"](spark, sf_dir).collect()
    t = {(r.query_id, r.neighbor_id) for r in trained}
    full_pq_tr = QUERIES["q_ann_pq_trained"](spark, sf_dir).collect()
    pt = {(r.query_id, r.neighbor_id) for r in full_pq_tr}
    assert len(e & t) / len(e) >= 0.2
    assert len(pt & t) / len(pt) >= 0.5


def test_hamming_ann_recall_floor(spark, sf_dir):
    """Binary sign-signature ANN vs the exact top-10: the 50-candidate
    Hamming pool re-ranked by exact cosine must keep a recall floor well
    above the ~0.02 chance level (measured ~0.5 on the isotropic test
    corpus — 1 bit/dim keeps angular locality; Charikar 2002)."""
    from iceberg_matrix_spark.queries import QUERIES

    exact = QUERIES["q_ann_ivf_exhaustive"](spark, sf_dir).collect()
    ham = QUERIES["q_ann_hamming_topk"](spark, sf_dir).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    h = {(r.query_id, r.neighbor_id) for r in ham}
    assert len(e & h) / len(e) >= 0.2


def test_sign_signatures_compact_and_deterministic(spark, sf_dir):
    """The binary index is 2 bigint words per vector (16 B), identical
    across builds, with every word inside 32 unsigned bits."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        _BIN_WORDS,
        sign_signature,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.select("vec_id", sign_signature("embedding").alias("sig"))
    a = {r["vec_id"]: tuple(r["sig"]) for r in sig.collect()}
    b = {r["vec_id"]: tuple(r["sig"]) for r in sig.collect()}
    assert a == b
    assert all(len(s) == _BIN_WORDS for s in a.values())
    assert all(0 <= w < 2**32 for s in a.values() for w in s)
    # signatures actually discriminate: not all equal
    assert len(set(a.values())) > 1
    # and agree with a per-row python recompute on a sample
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(5).collect()
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        want = tuple(
            sum((1 << i) for i in range(32) if v[w * 32 + i] >= 0)
            for w in range(_BIN_WORDS)
        )
        assert a[r["vec_id"]] == want, r["vec_id"]


def test_outlier_screen_catches_planted_spike(spark, sf_dir):
    """A vector with one dimension forced far outside the corpus range
    must flag as an outlier; the unmodified corpus keeps a low flag rate
    (median/MAD robustness — the estimates barely move when the spike
    joins the corpus)."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import embedding_outliers
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    spike = emb.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.concat(
            F.array(F.lit(1e6).cast("float")),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
        "label",
    )
    got = {
        r.vec_id: (r.max_mod_z, r.is_outlier)
        for r in embedding_outliers(emb.unionByName(spike)).collect()
    }
    planted = [v for v in got if v >= 1_000_000]
    assert planted and all(got[v][1] for v in planted)
    base_flags = sum(1 for v, (_, f) in got.items() if f and v < 1_000_000)
    assert base_flags <= len(got) * 0.2, base_flags


def test_trained_codebooks_beat_seed_codebooks(spark, sf_dir):
    """VERDICT r7 #4: the fixed-point Lloyd trainer must buy real index
    quality over the seed (zero-iteration) quantizers at equal k —
    PQ recall@10 over 32 queries strictly improves, and quantization
    error (the quantity Lloyd provably does not increase) drops ≥20%
    for the PQ codebooks (measured 23.6% at sf0.001, 24.2% at sf0.01)
    and ≥25% for the m=1 coarse (IVF) centroids (measured 41%); the
    trained coarse quantizer must not regress nprobe recall."""
    import numpy as np
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        ann_ivf_topk,
        ann_pq_topk,
        brute_force_topk,
        ivf_seed_centroids,
        pq_seed_codebooks,
        train_codebooks_fp,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact: dict[int, set] = {}
    for r in brute_force_topk(emb, q, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got[k] & exact[k]) for k in exact) / sum(
            len(v) for v in exact.values()
        )

    vecs = np.array(
        [r.embedding for r in emb.select("embedding").collect()], dtype=np.float64
    )

    def mse(books):
        dsub = len(books[0][0])
        tot = 0.0
        for j, sub_books in enumerate(books):
            sub = vecs[:, j * dsub : (j + 1) * dsub]
            cw = np.array(sub_books)
            tot += ((sub[:, None, :] - cw[None, :, :]) ** 2).sum(-1).min(1).sum()
        return tot / len(vecs)

    seed = pq_seed_codebooks(emb)
    trained = train_codebooks_fp(emb, seed)
    assert recall(ann_pq_topk(emb, q, trained, k=10)) > recall(
        ann_pq_topk(emb, q, seed, k=10)
    )
    assert mse(trained) < 0.80 * mse(seed)

    ivf_seed = [ivf_seed_centroids(emb, k=16)]
    ivf_trained = train_codebooks_fp(emb, ivf_seed)
    assert mse(ivf_trained) < 0.75 * mse(ivf_seed)
    r_seed = recall(ann_ivf_topk(emb, q, k=10, centroids=ivf_seed[0], nprobe=4))
    r_trained = recall(
        ann_ivf_topk(emb, q, k=10, centroids=ivf_trained[0], nprobe=4)
    )
    assert r_trained >= r_seed - 0.05, (r_trained, r_seed)


def test_ivfpq_rerank_recall_floor(spark, sf_dir):
    """VERDICT r9 #6: the rerank pipeline at its measured knee
    (nprobe=8, R=400 — shortlist depth is the dominant recall lever,
    see the _RERANK_SHORTLIST comment in similarity.py) must clear a
    ≥0.85 recall@10 floor vs exact brute force (measured 0.90 sf0.01 /
    0.94 sf0.1; the r9 nprobe=4/R=50 point sat at 0.74–0.80; raw
    trained ADC@10 is ~0.3). Also sanity-pins that rerank strictly
    beats the unreranked form."""
    from iceberg_matrix_spark.queries import QUERIES

    exact: dict[int, set] = {}
    for r in QUERIES["q_ann_bruteforce_topk"](spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(name):
        got: dict[int, set] = {}
        for r in QUERIES[name](spark, sf_dir).collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(k, set()) & exact[k]) for k in exact) / sum(
            len(v) for v in exact.values()
        )

    r_rerank = recall("q_ann_ivfpq_rerank")
    r_adc = recall("q_ann_ivfpq_trained")
    assert r_rerank >= 0.85, r_rerank
    assert r_rerank > r_adc, (r_rerank, r_adc)


def test_sampled_training_recall_parity_with_full(spark):
    """VERDICT r8 #3: the deployment trainer (Lloyd on the fixed-hash
    ~1/3 sample, seeds shared with the full trainer) must hold ≥95% of
    full-train recall@10 at sf0.1 over 32 queries. Fully deterministic:
    fixed hash slice, fixed seeds, fixed data — measured ratio 1.031
    (the sampled books actually edge out the full ones here)."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        ann_pq_topk,
        brute_force_topk,
        corpus_hash_sample,
        pq_seed_codebooks,
        train_codebooks_fp,
        train_codebooks_sampled,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.1"
    emb = load_table(spark, sf, "embeddings")
    n, n_smp = emb.count(), corpus_hash_sample(emb).count()
    # the hash slice must be a real fraction, not degenerate (the first
    # cut used modulus = multiplier + 28, which kept ONE row)
    assert 0.2 * n <= n_smp <= 0.45 * n, (n, n_smp)

    q = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact: dict[int, set] = {}
    for r in brute_force_topk(emb, q, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got[k] & exact[k]) for k in exact) / sum(
            len(v) for v in exact.values()
        )

    full = train_codebooks_fp(emb, pq_seed_codebooks(emb))
    sampled = train_codebooks_sampled(emb)
    r_full = recall(ann_pq_topk(emb, q, full, k=10))
    r_sampled = recall(ann_pq_topk(emb, q, sampled, k=10))
    assert r_sampled >= 0.95 * r_full, (r_sampled, r_full)


def test_outlier_meanad_fallback_unmasks_spike_in_constant_dimension(
    spark, sf_dir, tmp_path
):
    """Regression (ADVICE r7 #4): a dimension where >half the corpus
    shares one value has MAD = 0; the old mapping z = 0 masked a genuine
    spike there entirely. The MeanAD fallback (0.7979·|x−med|/MeanAD)
    must flag the spike — and the fallback arithmetic must stay
    engine-exact (oracle parity on the crafted corpus)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_matrix_spark.operators.similarity import embedding_outliers
    from iceberg_matrix_spark.queries import ORACLES, QUERIES
    from iceberg_matrix_spark.sources.testdata import TABLES
    from tests.oracle_harness import assert_query_matches_oracle

    # dim 0: constant 1.0 for all but the spike (MAD = 0, MeanAD > 0);
    # dims 1..3: mild per-row variation so the rest of the screen is live
    vecs = [[1.0, 0.1 * (i % 7), 0.05 * (i % 5), -0.2 * (i % 3)] for i in range(40)]
    vecs[17][0] = 50.0  # the spike MAD would mask
    tbl = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(40)], pa.int32()),
        }
    )
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    got = {r.vec_id: r for r in embedding_outliers(emb).collect()}
    assert got[17].is_outlier, got[17]
    assert got[17].max_mod_z > 30  # d=49, MeanAD=49/40 → z ≈ 0.7979·40 ≈ 31.9
    assert not got[3].is_outlier
    assert_query_matches_oracle(
        spark,
        QUERIES["q_embedding_outliers"],
        ORACLES["q_embedding_outliers"],
        str(tmp_path),
    )


def test_trained_scoped_dedup_is_sound_and_subset_of_global(spark, sf_dir):
    """Scoped dedup under the TRAINED quantizer must stay sound: every
    row it drops is also dropped by the global (all-candidates) form —
    cluster scoping can only REDUCE the candidate set, whatever the
    centroids — and the trained scoping must not recall fewer dups than
    the seed scoping by more than a small margin (better clusters should
    group near-dups at least as well)."""
    from iceberg_matrix_spark.queries import QUERIES

    def dropped(name):
        return {
            r.vec_id for r in QUERIES[name](spark, sf_dir).collect() if not r.keep
        }

    global_d = dropped("q_dedup_semantic")
    seed_d = dropped("q_dedup_semantic_scoped")
    trained_d = dropped("q_dedup_semantic_scoped_trained")
    assert trained_d <= global_d
    assert seed_d <= global_d
    assert len(trained_d) >= len(seed_d) - max(2, len(seed_d) // 10), (
        len(trained_d),
        len(seed_d),
    )


def test_scoped_decontamination_flags_subset_and_recall(spark):
    """VERDICT r9 #2: the IVF-scoped decontamination path must (a) flag
    only vectors the brute-force baseline also flags — scoped max_sim
    is a max over a candidate SUBSET, so this is a structural guarantee
    worth pinning against regressions in the scoping join — and (b)
    keep high recall of the brute-force flags at the oracle scale. At
    the round-10 (2 corpus × 8 eval) probe knee the deterministic
    measurements are 1.0 / 1.0 / 0.95 at sf0.001/0.01/0.1 (the 1×2
    first cut sat at 0.71/0.40 — low-τ pairs straddle clusters; see
    decontaminate_semantic_scoped's measured fan-out curve)."""
    from iceberg_matrix_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    brute_rows = QUERIES["q_decontaminate_semantic"](spark, sf).collect()
    brute = {r.vec_id for r in brute_rows if r.contaminated}
    scoped_rows = QUERIES["q_decontaminate_semantic_scoped"](spark, sf).collect()
    scoped = {r.vec_id for r in scoped_rows if r.contaminated}
    assert len(scoped_rows) == len(brute_rows)  # every corpus vector verdicted
    assert scoped <= brute, scoped - brute
    assert brute and len(scoped & brute) / len(brute) >= 0.9, (scoped, brute)


def test_incremental_index_append_equals_rebuild(spark, sf_dir):
    """VERDICT r9 #7: encoding only the arriving batch under the FROZEN
    quantizer and appending to the persisted index parquet must land on
    exactly the rows a from-scratch rebuild of the full corpus produces
    (the index row is a pure per-vector projection, so append ≡ rebuild
    under a fixed quantizer generation — row-level pin on top of the
    oracle hash)."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        ivf_trained_centroids_cached,
        ivfpq_encode,
        ivfpq_index_with_ingest,
        pq_trained_codebooks_cached,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    key = sf_dir + "::inc-corpus"
    cents = ivf_trained_centroids_cached(corpus, key)
    books = pq_trained_codebooks_cached(corpus, key)

    def rows(df):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["codes"])) for r in df.collect()
        )

    appended = ivfpq_index_with_ingest(corpus, batch, key, cents, books)
    rebuilt = ivfpq_encode(emb, cents, books)
    assert rows(appended) == rows(rebuilt)
    assert appended.count() == emb.count()


def test_index_compaction_clusters_by_cid_and_preserves_content(spark, sf_dir):
    """Compaction of the append-built index must (a) preserve content
    exactly, (b) reduce the file count (corpus build + batch append
    write ≥ 2 generations of files; compaction targets 4), and (c)
    produce DISJOINT per-file cid ranges — the property that lets a
    probe-scoped read (cid IN probes) skip whole files via parquet
    min/max stats."""
    import os

    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        ivf_trained_centroids_cached,
        ivfpq_index_compact,
        ivfpq_index_with_ingest,
        pq_trained_codebooks_cached,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    key = sf_dir + "::inc-corpus"
    cents = ivf_trained_centroids_cached(corpus, key)
    books = pq_trained_codebooks_cached(corpus, key)
    appended = ivfpq_index_with_ingest(
        corpus, batch, key, cents, books, n_ingests=3
    )
    assert len(appended.inputFiles()) >= 4  # corpus body + 3 ingests
    compacted, path = ivfpq_index_compact(appended, n_files=2)

    def rows(df):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["codes"])) for r in df.collect()
        )

    assert rows(compacted) == rows(appended)  # content-invariant
    files = [
        f for f in os.listdir(path) if f.endswith(".parquet")
    ]
    assert 0 < len(files) <= 2
    assert len(files) < len(appended.inputFiles())  # actually compacted
    # disjoint per-file cid ranges (footer-stat file skipping works)
    ranges = []
    for f in files:
        r = spark.read.parquet(os.path.join(path, f)).agg(
            F.min("cid"), F.max("cid")
        ).collect()[0]
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, ranges


def test_index_retract_appends_tombstones_without_touching_body(spark, sf_dir):
    """VERDICT r10 #5: deleting vectors from the append-built index must
    (a) never rewrite the index body (file listing unchanged), (b) cost
    one O(|deleted|) tombstone append, (c) serve a live view equal to a
    from-scratch rebuild on the survivors, and (d) apply physically at
    the next compaction — after which the tombstone join is gone."""
    import os

    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        ivf_trained_centroids_cached,
        ivfpq_encode,
        ivfpq_index_compact,
        ivfpq_index_ingest_path,
        ivfpq_index_retract,
        pq_trained_codebooks_cached,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    key = sf_dir + "::inc-corpus"
    cents = ivf_trained_centroids_cached(corpus, key)
    books = pq_trained_codebooks_cached(corpus, key)
    path = ivfpq_index_ingest_path(
        corpus, batch, key + "::retract-pin", cents, books
    )
    body_files = sorted(os.listdir(path))
    deleted = emb.filter(F.col("vec_id") % 5 == 0)
    live = ivfpq_index_retract(spark, path, deleted)
    assert sorted(os.listdir(path)) == body_files  # body untouched
    assert os.path.isdir(path + ".deletes")

    def rows(df):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["codes"])) for r in df.collect()
        )

    survivors = emb.filter(F.col("vec_id") % 5 != 0)
    assert rows(live) == rows(ivfpq_encode(survivors, cents, books))
    # compaction applies tombstones physically: same content, and the
    # compacted generation carries no tombstoned ids in its files
    compacted, cpath = ivfpq_index_compact(live, n_files=2)
    assert rows(compacted) == rows(live)
    assert (
        spark.read.parquet(cpath)
        .filter(F.col("vec_id") % 5 == 0)
        .count()
        == 0
    )


def test_index_rotation_migrates_in_slices_and_matches_retrain(spark, sf_dir):
    """VERDICT r10 #4: the staged quantizer rotation must (a) re-encode
    only one hash-mod slice per migration batch — per-slice appended row
    counts partition the corpus, no batch touching all of it — (b) stay
    queryable mid-migration with each id served from exactly one
    generation per the slice predicate, and (c) land, after the last
    slice and the old generation's drop, on exactly the rows a
    from-scratch encode under the NEW books produces."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.operators.similarity import (
        _PQ_K,
        ivf_seed_centroids,
        ivf_trained_centroids_cached,
        ivfpq_encode,
        ivfpq_index_rotation,
        ivfpq_rotation_finish,
        ivfpq_rotation_view,
        pq_seed_codebooks,
        pq_trained_codebooks_cached,
    )
    from iceberg_matrix_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    key = sf_dir + "::inc-corpus"
    old_cents = ivf_seed_centroids(corpus, k=_PQ_K)
    old_books = pq_seed_codebooks(corpus)
    new_cents = ivf_trained_centroids_cached(corpus, key)
    new_books = pq_trained_codebooks_cached(corpus, key)
    root, slices = ivfpq_index_rotation(
        corpus, key + "::rotate-pin", old_cents, old_books,
        new_cents, new_books, n_slices=3,
    )
    n = corpus.count()
    per_slice = [
        spark.read.parquet(*fs).count() if fs else 0 for fs in slices
    ]
    assert sum(per_slice) == n  # slices partition the corpus
    assert max(per_slice) < n  # no migration batch re-encodes everything
    assert all(c > 0 for c in per_slice)

    # mid-migration (1 of 3 slices done): every id appears exactly once,
    # migrated ids from gen 1, the rest from gen 0
    view = ivfpq_rotation_view(spark, root, n_slices=3, done=1)
    assert view.count() == n
    assert view.select("vec_id").distinct().count() == n
    mig = view.filter(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(3)) < F.lit(1)
    )
    assert mig.filter(F.col("gen") != 1).count() == 0
    assert view.filter(
        (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(3)) >= F.lit(1))
        & (F.col("gen") != 0)
    ).count() == 0

    def rows(df):
        return sorted(
            (r["vec_id"], r["cid"], tuple(r["codes"])) for r in df.collect()
        )

    final = ivfpq_rotation_finish(spark, root)
    assert rows(final) == rows(ivfpq_encode(corpus, new_cents, new_books))


def test_scoped_decontamination_k64_rekneed_floor(spark):
    """VERDICT r10 #3 — the k-dial, measured past k=16: at k=64 the
    round-10 (2×8) knee COLLAPSES to recall 0.61 at sf0.1 (fixed
    fan-outs cover ρ=1−(1−2/64)⁸ ≈ 0.23 of the pair space, and recall
    tracks pair coverage, not cluster granularity), so k=64 must be
    re-kneed to (2×32) — measured recall 1.0 / 0.857 / 0.99 at
    sf0.001/0.01/0.1 with candidate coverage ρ≈0.74. This pins the
    k=64 re-kneed floor and the structural subset guarantee at the
    oracle scale; the full measured dial (and its honest conclusion —
    equal-recall cost is roughly k-invariant at this corpus scale,
    refuting the naive ρ(k) scaling model) lives in
    decontaminate_semantic_scoped's docstring and SCALING.md."""
    import pyspark.sql.functions as F

    from iceberg_matrix_spark.functions.vectors import dot, l2_norm
    from iceberg_matrix_spark.operators.similarity import (
        _SEMDECON_MOD,
        _SEMDECON_TAU,
        decontaminate_semantic_scoped,
        ivf_seed_centroids,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % _SEMDECON_MOD == 0)
    corpus = emb.filter(F.col("vec_id") % _SEMDECON_MOD != 0)
    bpre = bench.select(
        F.col("vec_id").alias("__bid"),
        F.col("embedding").alias("__bv"),
        l2_norm("embedding").alias("__bn"),
    )
    dense = (
        corpus.select(
            "vec_id", "embedding", l2_norm("embedding").alias("__cn")
        )
        .crossJoin(F.broadcast(bpre))
        .select(
            "vec_id",
            (dot("embedding", "__bv") / (F.col("__cn") * F.col("__bn"))).alias(
                "__s"
            ),
        )
        .groupBy("vec_id")
        .agg(F.max("__s").alias("max_sim"))
    )
    dflags = {
        r.vec_id
        for r in dense.filter(F.col("max_sim") >= _SEMDECON_TAU).collect()
    }
    cents = ivf_seed_centroids(emb, k=64)
    flags = {
        r.vec_id
        for r in decontaminate_semantic_scoped(
            corpus, bench, cents, nprobe=32, corpus_nprobe=2
        ).collect()
        if r.contaminated
    }
    assert flags <= dflags  # scoped flags stay a structural subset
    assert dflags and len(flags & dflags) / len(dflags) >= 0.85
