"""The session cache (storage.cached): one keying rule for every operator
cache, one build per key under concurrency, no Spark job on a hit over
a file-backed corpus, invalidation on a new Spark session, and a guard
that per-module cache dicts do not come back."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
import pytest

from iceberg_matrix_spark.operators import pipeline, similarity as sim, text
from iceberg_matrix_spark.sources.testdata import load_table

REPO = pathlib.Path(__file__).resolve().parents[1]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def quantizers(spark, sf_dir):
    """One fixed quantizer generation, so the index kinds' results differ
    only by corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.ivf_seed_centroids(emb), sim.pq_seed_codebooks(emb)


def _encoded(df, q):
    return _rows(sim.ivfpq_encode(df, *q))


# kind -> (table, cached call (corpus, key, quantizers), from-scratch result)
_KINDS = {
    "ivf-kmeans": (
        "embeddings",
        lambda c, key, q: sim.ivf_centroids_cached(c, key, k=4),
        lambda c, q: sim.ivf_build_centroids(c, k=4),
    ),
    "ivf-seed": (
        "embeddings",
        lambda c, key, q: sim.ivf_seed_centroids_cached(c, key),
        lambda c, q: sim.ivf_seed_centroids(c),
    ),
    "pq-seed": (
        "embeddings",
        lambda c, key, q: sim.pq_seed_codebooks_cached(c, key),
        lambda c, q: sim.pq_seed_codebooks(c),
    ),
    "pq-trained": (
        "embeddings",
        lambda c, key, q: sim.pq_trained_codebooks_cached(c, key),
        lambda c, q: sim.train_codebooks_fp(c, sim.pq_seed_codebooks(c)),
    ),
    "ivf-trained": (
        "embeddings",
        lambda c, key, q: sim.ivf_trained_centroids_cached(c, key),
        lambda c, q: sim.train_codebooks_fp(
            c, [sim.ivf_seed_centroids(c, k=sim._PQ_K)]
        )[0],
    ),
    "ivfpq-index": (
        "embeddings",
        lambda c, key, q: _rows(sim.ivfpq_index_cached(c, key, *q, tag="regress")),
        _encoded,
    ),
    "ivfpq-ingest": (
        "embeddings",
        lambda c, key, q: _rows(
            c.sparkSession.read.parquet(
                sim.ivfpq_index_ingest_path(c, c.limit(0), key, *q)
            )
        ),
        _encoded,
    ),
    "ivfpq-rotate": (
        "embeddings",
        lambda c, key, q: _rows(
            c.sparkSession.read.parquet(
                sim.ivfpq_index_rotation(c, key, *q, *q, n_slices=2)[0] + "/gen=0"
            )
        ),
        _encoded,
    ),
    "chunk-fp-index": (
        "documents",
        lambda c, key, q: _rows(text.chunk_fingerprint_index_cached(c, key)),
        lambda c, q: _rows(
            text.chunks_with_ckey(c)
            .select(text.md5_fingerprint("chunk_text").alias("fingerprint"))
            .distinct()
        ),
    ),
    "chunk-fp-store": (
        "documents",
        lambda c, key, q: _rows(text.chunk_fingerprint_store_cached(c, key).current()),
        lambda c, q: _rows(text.chunk_fingerprint_counts(c)),
    ),
    "report-state": (
        "documents",
        lambda c, key, q: _rows(pipeline.corpus_report_state_cached(c, key)),
        lambda c, q: _rows(pipeline.corpus_report_state(c)),
    ),
}


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_reused_key_with_different_corpus_misses(spark, sf_dir, quantizers, kind):
    """The same caller key over a different corpus must miss and return
    that corpus's result, never the first corpus's stale one. Every cache
    entry point is covered; the sites that call the store directly
    (sampled PQ books, index compaction, table-backed report state)
    share its keying rule, which test_store_keys_on_frame_content pins."""
    table, call, fresh = _KINDS[kind]
    id_col = "vec_id" if table == "embeddings" else "doc_id"
    full = load_table(spark, sf_dir, table)
    first, second = (full.filter(F.col(id_col) % 2 == p) for p in (0, 1))
    key = f"{sf_dir}::regress-{kind}"
    expected_first = fresh(first, quantizers)
    expected_second = fresh(second, quantizers)
    assert expected_first != expected_second  # the corpora are distinguishable
    assert call(first, key, quantizers) == expected_first
    assert call(second, key, quantizers) == expected_second


def test_store_keys_on_frame_content(spark):
    """Direct store calls: one key over two in-memory frames with equal
    plans but different rows builds twice; a repeat of either hits."""
    from iceberg_matrix_spark import storage

    a = spark.createDataFrame([(1,), (2,)], "x bigint")
    b = spark.createDataFrame([(3,), (4,)], "x bigint")
    before = storage.cache_stats("store-probe")

    def total(df):
        return storage.cached(
            "store-probe", ("k",), [df], lambda _: df.agg(F.sum("x")).first()[0]
        )

    assert [total(a), total(b), total(a), total(b)] == [3, 7, 3, 7]
    after = storage.cache_stats("store-probe")
    assert after["builds"] - before["builds"] == 2
    assert after["hits"] - before["hits"] == 2


def test_concurrent_callers_of_one_key_build_once(spark, sf_dir):
    """16 threads requesting one key at once: exactly one build, and
    every caller receives the same object."""
    from iceberg_matrix_spark import storage

    corpus = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 1)
    key = sf_dir + "::threads"
    start = threading.Barrier(16)

    def call():
        start.wait(timeout=60)
        return sim.ivf_seed_centroids_cached(corpus, key)

    before = storage.cache_stats("ivf-seed")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [pool.submit(call) for _ in range(16)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    after = storage.cache_stats("ivf-seed")
    assert after["builds"] - before["builds"] == 1
    assert after["misses"] - before["misses"] == 1
    assert after["hits"] - before["hits"] == 15
    assert all(g is got[0] for g in got)


@pytest.mark.parametrize(
    "cache", [sim.pq_trained_codebooks_cached, sim.ivf_trained_centroids_cached]
)
def test_trained_quantizer_hit_fires_no_spark_job(spark, sf_dir, cache):
    """A hit over a file-backed corpus is keyed without touching the
    data: no seed collect just to compute the key."""
    corpus = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 != 0)
    key = sf_dir + "::zero-jobs"
    first = cache(corpus, key)
    sc = spark.sparkContext
    group = f"store-hit-{cache.__name__}"
    sc.setJobGroup(group, group)
    try:
        again = cache(corpus, key)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land in the tracker
    assert again is first
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_RESTART = r"""
import glob, json, os, sys
sys.path.insert(0, sys.argv[1])
from iceberg_matrix_spark import get_spark, storage
from iceberg_matrix_spark.operators.pipeline import corpus_report_state_cached
from iceberg_matrix_spark.sources.testdata import load_table

storage.set_storage_root(sys.argv[3])
pattern = os.path.join(sys.argv[3], "imx-session-*", "report-state-*")


def state():
    spark = get_spark(app_name="store-restart", master="local[2]", shuffle_partitions=2)
    docs = load_table(spark, sys.argv[2], "documents")
    return spark, corpus_report_state_cached(docs, "restart")


spark, first = state()
first_rows = first.count()
first_dirs = glob.glob(pattern)
spark.stop()
spark, second = state()
print(json.dumps({
    "builds": storage.cache_stats("report-state")["builds"],
    "first_rows": first_rows,
    "second_rows": len(second.collect()),
    "first_dirs": first_dirs,
    "dirs_after": glob.glob(pattern),
}))
spark.stop()
"""


def test_new_spark_session_rebuilds_and_deletes_old_entries(tmp_path, sf_dir):
    """Stop the session and start another in one process: the next call
    rebuilds (the old entry's DataFrame belongs to a stopped context),
    its DataFrame collects, and the old entry's directory is gone."""
    out = subprocess.run(
        [sys.executable, "-c", _RESTART, str(REPO), sf_dir, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["builds"] == 2
    assert rep["second_rows"] == rep["first_rows"] > 0
    assert len(rep["first_dirs"]) == 1
    assert len(rep["dirs_after"]) == 1
    assert rep["first_dirs"][0] not in rep["dirs_after"]


def test_operators_define_no_module_level_cache_dicts():
    """Per-module cache dicts bypass the store's keying, locking and
    session invalidation; every cache goes through storage.cached."""
    offenders = []
    for path in sorted((REPO / "iceberg_matrix_spark" / "operators").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            if isinstance(node.value, ast.Dict):
                offenders += [
                    f"{path.name}:{node.lineno} {t.id}"
                    for t in targets
                    if isinstance(t, ast.Name) and t.id.endswith("_CACHE")
                ]
    assert not offenders, offenders
