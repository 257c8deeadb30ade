"""Quality gates for the approximate similarity operators that have no SQL
oracle: ANN recall@k vs the exact brute-force baseline."""

from __future__ import annotations

import pytest

from allora_indexer_spark.plans import warehouse
from allora_indexer_spark.registry import all_queries


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    qs = all_queries()
    exact = (
        qs["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    )
    approx = qs["q53_ann_lsh"].fn(spark, sf_dir).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        got = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & got) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    # threshold=inf makes the approx join exhaustive within hash-table unions;
    # with 4 tables recall should be high but bucketing may drop a few.
    assert mean_recall >= 0.6, f"ANN recall@5 too low: {mean_recall} ({recalls})"


def test_simhash_is_stable_fingerprint(spark, sf_dir):
    qs = all_queries()
    a = qs["q42_simhash"].fn(spark, sf_dir).toPandas().set_index("doc_id")["simhash"]
    b = qs["q42_simhash"].fn(spark, sf_dir).toPandas().set_index("doc_id")["simhash"]
    assert (a.sort_index() == b.sort_index()).all()
    # 32-bit range
    assert a.between(0, 2**32 - 1).all()


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF probing is lossy only when a true neighbor lives in an
    unprobed cell; with N_PROBE=3 of 8 cells recall must stay useful."""
    qs = all_queries()
    exact = qs["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    approx = qs["q53b_ann_ivf"].fn(spark, sf_dir).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        got = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & got) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"IVF recall@5 too low: {mean_recall} ({recalls})"


def test_persisted_ivf_index_matches_inline_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """build_ivf_index + query_ivf_index: (1) the persisted-index answer
    has the same recall contract as the inline q53b (same quantizer seed →
    identical results), (2) the corpus lands cell-partitioned on disk, and
    (3) the candidate scan's plan carries dynamic partition pruning, so
    unprobed cells are skipped at the directory level."""
    import os

    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.registry import all_queries
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    ann_index.build_ivf_index(spark, emb, idx)
    corpus_dir = os.path.join(idx, "corpus")
    m = warehouse._manifest_read(corpus_dir)
    assert any(
        d.startswith("cell=")
        for r in warehouse._data_dirs(corpus_dir, m)
        for d in os.listdir(r)
    ), "corpus is not cell-partitioned"

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_ivf_index(spark, idx, queries)

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP on the cell scan"

    got_pd = got.toPandas()
    inline = all_queries()["q53b_ann_ivf"].fn(spark, sf_dir).toPandas()
    inline = inline[inline["query_id"] < 5]
    key = lambda df: set(zip(df["query_id"], df["neighbor_id"]))  # noqa: E731
    assert key(got_pd) == key(inline), "persisted index diverges from inline IVF"


def _recall_at_5(exact_pd, got_pd):
    recalls = []
    for qid, grp in exact_pd.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        got = set(got_pd[got_pd["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & got) / len(truth))
    return sum(recalls) / len(recalls), recalls


def test_registered_ivf_index_query_recall_and_dpp(spark, sf_dir):
    """q99zu (the PERSISTED-index entry under the driver gate) must (1)
    carry dynamic partition pruning on the cell scan, (2) hold the IVF
    recall contract vs the exact q51 baseline, and (3) — same quantizer
    seed and cell count — return the identical answer set as the inline
    q53b, proving the on-disk round trip loses nothing."""
    qs = all_queries()
    got = qs["q99zu_ivf_index_topk"].fn(spark, sf_dir)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP on the cell scan"
    got_pd = got.toPandas()
    exact = qs["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    mean_recall, recalls = _recall_at_5(exact, got_pd)
    assert mean_recall >= 0.5, f"persisted-IVF recall@5 too low: {recalls}"
    inline = qs["q53b_ann_ivf"].fn(spark, sf_dir).toPandas()
    key = lambda df: set(zip(df["query_id"], df["neighbor_id"]))  # noqa: E731
    assert key(got_pd) == key(inline), "persisted index diverges from inline"


def test_registered_ivfpq_index_query_recall_and_dpp(spark, sf_dir):
    """q99zv (persisted IVFADC+R under the driver gate): both the codes
    scan and the full-precision rerank scan must be DPP-pruned, and the
    composed recall contract must hold."""
    qs = all_queries()
    got = qs["q99zv_ivfpq_index_topk"].fn(spark, sf_dir)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("dynamicpruningexpression") >= 2, plan[:800]
    got_pd = got.toPandas()
    exact = qs["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    mean_recall, recalls = _recall_at_5(exact, got_pd)
    assert mean_recall >= 0.4, f"persisted-IVFPQ recall@5 too low: {recalls}"


def test_registered_index_build_is_cached_per_session(spark, sf_dir):
    """Build once, query many: the second invocation of the registered
    entry must answer from the SAME persisted artifact, not retrain."""
    import os

    from allora_indexer_spark.operators import ann_index

    def ivf_entries():
        return {
            k: v
            for k, v in ann_index._INDEX_CACHE.items()
            if k[0] == os.path.abspath(sf_dir) and k[1] == "ivf"
        }

    qs = all_queries()
    qs["q99zu_ivf_index_topk"].fn(spark, sf_dir).count()
    first = ivf_entries()
    assert first
    qs["q99zu_ivf_index_topk"].fn(spark, sf_dir).count()
    assert ivf_entries() == first  # same artifact, no retrain
    # the cache key carries a corpus fingerprint: a changed embeddings
    # source must NOT be served from the stale index
    key = next(iter(first))
    assert key[2], "cache key carries no corpus fingerprint"


@pytest.mark.soak
def test_pq_adc_with_rerank_recall(spark, sf_dir, tmp_path):
    """Product quantization end-to-end: 8x4-bit codes per 64-dim vector,
    ADC shortlist from codes alone, exact-cosine rerank of the shortlist
    (IVFADC+R). Direct 4-bit ADC cannot rank the final top-k (~0.2 recall,
    measured); with a 50-deep rerank the recall contract must hold."""
    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.registry import all_queries
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "pq")
    ann_index.build_pq_index(spark, emb, idx)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_pq_adc(
        spark, idx, queries, shortlist=50, rerank_with=emb
    ).toPandas()
    exact = all_queries()["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        g = set(got[got["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & g) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.5, f"PQ+rerank recall@5 too low: {recalls}"
    # the codes really are 4-bit: every code in [0, 16)
    import os

    codes = spark.read.parquet(os.path.join(idx, "codes"))
    mx = codes.select(
        F.max(F.array_max("codes")).alias("mx"),
        F.min(F.array_min("codes")).alias("mn"),
    ).collect()[0]
    assert 0 <= mx["mn"] and mx["mx"] < 16


@pytest.mark.soak
def test_ivfpq_end_to_end_recall_and_pruning(spark, sf_dir, tmp_path):
    """The composed IVFADC+R index: codes stored per cell, ADC runs only
    inside DPP-pruned probed cells, rerank hits the full-precision store.
    Recall degrades vs plain PQ+rerank only through unprobed cells, so
    the gate is the IVF one."""
    import os

    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.registry import all_queries
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq")
    ann_index.build_ivfpq_index(spark, emb, idx)
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(idx, "cells"))
    )

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_ivfpq(spark, idx, queries)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP on the cells scan"

    got_pd = got.toPandas()
    exact = all_queries()["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        g = set(got_pd[got_pd["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & g) / len(truth))
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"IVFPQ recall@5 too low: {recalls}"


def test_ivf_append_stays_exactly_once_under_a_lost_race(
    spark, tmp_path, monkeypatch
):
    """Two appends of the same batch race: the rival lands inside the
    first append's publish. The first append's probe ran against the
    manifest the rival replaced, so it must redo probe and append
    together — re-pointing its already-probed rows at the rival's
    manifest would land every new vec_id twice."""
    import os

    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.plans import storage

    st = storage.InMemoryManifestStorage()
    monkeypatch.setattr(warehouse, "STORAGE", st)
    emb = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4), 1.0]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    ann_index.build_ivf_index(spark, emb.filter("vec_id < 16"), idx, n_cells=2)
    batch = emb.filter("vec_id >= 12")  # 12..15 are already indexed
    st.interleave = lambda: ann_index.append_to_ivf_index(spark, batch, idx)
    ann_index.append_to_ivf_index(spark, batch, idx)
    ids = sorted(
        r["vec_id"]
        for r in warehouse.read_dir(spark, os.path.join(idx, "corpus"))
        .select("vec_id")
        .collect()
    )
    assert ids == list(range(24))


@pytest.mark.soak
def test_ivf_incremental_append(spark, sf_dir, tmp_path):
    """append_to_ivf_index: new vectors are assigned to existing
    centroids and land in the cell layout; re-delivered ids are dropped;
    queries see the appended vectors with a useful recall."""
    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.registry import all_queries
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_inc")
    ann_index.build_ivf_index(spark, emb.filter(F.col("vec_id") < 400), idx)
    ann_index.append_to_ivf_index(
        spark, emb.filter(F.col("vec_id") >= 400), idx
    )
    import os

    corpus_dir = os.path.join(idx, "corpus")
    assert warehouse.read_dir(spark, corpus_dir).count() == emb.count()
    # replay: appending the same batch again must add nothing
    ann_index.append_to_ivf_index(
        spark, emb.filter(F.col("vec_id") >= 400), idx
    )
    assert warehouse.read_dir(spark, corpus_dir).count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_ivf_index(spark, idx, queries).toPandas()
    exact = all_queries()["q51_knn_bruteforce"].fn(spark, sf_dir).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp["neighbor_id"])
        g = set(got[got["query_id"] == qid]["neighbor_id"])
        recalls.append(len(truth & g) / len(truth))
    assert sum(recalls) / len(recalls) >= 0.4, f"post-append recall: {recalls}"


@pytest.mark.soak
def test_pq_adc_honors_topk_without_reranker(spark, sf_dir, tmp_path):
    """shortlist > top_k with rerank_with=None must still return top_k
    rows per query (the documented contract), not shortlist-deep ADC
    results."""
    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "pq_topk")
    ann_index.build_pq_index(spark, emb, idx)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_pq_adc(
        spark, idx, queries, top_k=5, shortlist=50
    ).toPandas()
    per_query = got.groupby("query_id").size()
    assert (per_query == 5).all(), per_query.to_dict()
    assert got["rk"].max() == 5


@pytest.mark.soak
def test_query_exclude_self_is_optional_for_external_ids(
    spark, sf_dir, tmp_path
):
    """External queries do not share the corpus id space: with
    exclude_self=False a query whose id happens to collide with a corpus
    vec_id still receives that corpus vector as a neighbor (by default
    the q51-style self-exclusion drops it)."""
    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_ext")
    ann_index.build_ivf_index(spark, emb, idx)
    # the external query IS corpus vector 7's embedding, id-colliding
    queries = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    with_self = ann_index.query_ivf_index(
        spark, idx, queries, exclude_self=False
    ).toPandas()
    # its own vector is the exact-cosine-1.0 top neighbor
    assert with_self[with_self["rk"] == 1]["neighbor_id"].iloc[0] == 7
    default = ann_index.query_ivf_index(spark, idx, queries).toPandas()
    assert 7 not in set(default["neighbor_id"])  # q51-style default


@pytest.mark.soak
def test_ivf_append_dedups_within_batch(spark, sf_dir, tmp_path):
    """An at-least-once replay often lands the duplicate INSIDE one
    batch: append_to_ivf_index must write each vec_id once even when the
    incoming frame repeats it."""
    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf_dup")
    ann_index.build_ivf_index(spark, emb.filter(F.col("vec_id") < 400), idx)
    dup_batch = (
        emb.filter(F.col("vec_id") >= 400)
        .unionByName(emb.filter(F.col("vec_id") >= 400))
    )
    ann_index.append_to_ivf_index(spark, dup_batch, idx)
    import os

    corpus = warehouse.read_dir(spark, os.path.join(idx, "corpus"))
    assert corpus.count() == emb.count()
    assert (
        corpus.groupBy("vec_id").count().filter("count > 1").count() == 0
    )


@pytest.mark.soak
def test_ivfpq_rerank_reads_cell_pruned_corpus(spark, sf_dir, tmp_path):
    """The final rerank must join the cell-partitioned corpus on
    (cell, neighbor_id) so BOTH index scans are dynamic-partition-pruned
    — and the build writes no duplicate full-precision store."""
    import os

    from allora_indexer_spark.operators import ann_index
    from allora_indexer_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq2")
    ann_index.build_ivfpq_index(spark, emb, idx)
    assert not os.path.isdir(os.path.join(idx, "vectors"))  # no duplicate
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    got = ann_index.query_ivfpq(spark, idx, queries)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # one DPP subquery per pruned scan: codes AND the rerank corpus read
    assert plan.lower().count("dynamicpruningexpression") >= 2, plan[:800]
    assert got.count() > 0


def test_manifest_corpus_fingerprint_is_version_keyed(spark, tmp_path, monkeypatch):
    """A manifest-table embeddings corpus is fingerprinted by its manifest
    VERSION — one driver-local JSON read, no per-file os.walk — and an
    append (new version) invalidates the cached index while an unchanged
    corpus keeps serving the same artifact."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from allora_indexer_spark.operators import ann_index

    sfd = str(tmp_path / "sf")
    os.makedirs(sfd)
    corpus = os.path.join(sfd, "embeddings.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    warehouse.append_dir(emb, corpus)
    warehouse.compact(spark, corpus, target_partitions=1)
    assert warehouse._manifest_read(corpus) is not None

    # manifest corpora never stat-walk: make any walk fail loudly while
    # the FINGERPRINT runs (scoped — the warehouse writers legitimately
    # walk version dirs, and `ann_index.os` IS the global os module)
    def _no_walk(*a, **k):
        raise AssertionError("os.walk called for a manifest corpus")

    def fingerprint_without_walk():
        with monkeypatch.context() as mp:
            mp.setattr(ann_index.os, "walk", _no_walk)
            return ann_index._corpus_fingerprint(sfd)

    fp1 = fingerprint_without_walk()
    assert fp1[0][0] == "manifest"

    idx1 = ann_index._built_index(spark, sfd, "ivf")
    assert ann_index._built_index(spark, sfd, "ivf") == idx1  # cache hit

    # append flips the manifest version -> fingerprint changes -> rebuild
    more = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    warehouse.append_dir(more, corpus)
    fp2 = fingerprint_without_walk()
    assert fp2 != fp1
    idx2 = ann_index._built_index(spark, sfd, "ivf")
    assert idx2 != idx1, "stale index served after the corpus grew"
    shutil.rmtree(idx1, ignore_errors=True)
    shutil.rmtree(idx2, ignore_errors=True)
