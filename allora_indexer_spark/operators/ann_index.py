"""Persisted IVF index: build once, query many times.

q53b (similarity.py) demonstrates IVF semantics but refits its coarse
quantizer on every invocation — fine for an oracle-checked query, wrong for
production, where the index is an artifact: train the quantizer once, write
the corpus clustered by cell, and serve every subsequent query against the
persisted layout (Jegou et al., "Product quantization for nearest neighbor
search", TPAMI 2011 — the inverted-file half, minus PQ compression, whose
scalar variant is q96).

Layout on disk (`index_dir`):
- ``corpus/`` — the vectors, parquet **partitioned by cell id** (`cell=N/`
  directories), so a probe touches only its cells' files;
- ``centroids/`` — O(n_cells) rows, read whole and broadcast.

Scale design (100 TB):
- build: quantizer fit cost is O(sample x k x iters) — independent of
  corpus size when fit on a sample (`fit_fraction`); assignment is one
  map-side pass; the clustered write is one shuffle on cell.
- query: probe selection is a broadcast x broadcast product over
  O(queries x n_cells) rows; the candidate join hits the corpus ON THE
  PARTITION COLUMN with a broadcastable probe side, so Spark's dynamic
  partition pruning (DPP) skips every unprobed `cell=` directory at scan
  time — the plan, not the programmer, enforces that only
  nprobe/n_cells of the data is read (pinned in tests/test_similarity.py).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from allora_indexer_spark.operators.similarity import _dot, _norm2
from allora_indexer_spark.plans.warehouse import append_dir, read_dir
from allora_indexer_spark.registry import query
from allora_indexer_spark.tables import load_table, pin, pin_lazy

DEFAULT_CELLS = 8
DEFAULT_PROBE = 3
DEFAULT_TOP_K = 5

# single-sourced expressions/stages shared by the IVF / PQ / IVFPQ query
# paths (previously copy-pasted per function — a tie-break or pruning fix
# then had to be applied in every copy or the variants drifted)
_L2SQ_EXPR = (
    "aggregate(zip_with(q_emb, centroid, (x, y) ->"
    " (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _cosine_col():
    return F.expr(
        f"({_dot('q_emb', 'c_emb', False)})"
        f" / (sqrt({_norm2('q_emb', False)})"
        f" * sqrt({_norm2('c_emb', False)}))"
    ).alias("cosine")


def _probe_cells(queries: DataFrame, cents: DataFrame, n_probe: int) -> DataFrame:
    """(query_id, q_emb, cell) for each query's n_probe nearest coarse
    cells — broadcast x broadcast, O(queries x n_cells) rows."""
    wp = Window.partitionBy("query_id").orderBy(F.asc("l2sq"), F.asc("cell"))
    return (
        F.broadcast(queries)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "q_emb", "cell", F.expr(_L2SQ_EXPR).alias("l2sq"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", "q_emb", "cell")
    )


def _query_lut(queries: DataFrame, books: DataFrame, m: int, d: int) -> DataFrame:
    """The ADC lookup table: (query_id, sub, code, partial inner
    product) — queries x m x k rows, broadcast-sized."""
    q_sub = queries.select(
        "query_id",
        F.posexplode(
            F.array(*[F.slice("q_emb", j * d + 1, d) for j in range(m)])
        ).alias("sub", "qs"),
    )
    return (
        F.broadcast(q_sub)
        .join(F.broadcast(books), "sub")
        .select(
            "query_id",
            "sub",
            "code",
            F.expr(
                "aggregate(zip_with(qs, centroid,"
                " (x, y) -> CAST(x AS DOUBLE) * y),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ).alias("partial"),
        )
    )


def build_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_cells: int = DEFAULT_CELLS,
    seed: int = 7,
    fit_fraction: float = 1.0,
) -> None:
    """Train the coarse quantizer and write the clustered corpus +
    centroid table. ``emb`` needs (vec_id, embedding ARRAY<FLOAT>).
    ``fit_fraction`` < 1 fits k-means on a sample — at corpus scale the
    quantizer needs only a representative sample, never the full data.

    The corpus is a manifest table from its build on (cell-partitioned
    version dirs), so :func:`append_to_ivf_index` adds versions beside
    the built rows. A rebuild replaces the whole table, as the overwrite
    of the centroid table does."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.withColumn("features", array_to_vector("embedding"))
    fit_on = (
        feats if fit_fraction >= 1.0 else feats.sample(fit_fraction, seed)
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(fit_on)
    assigned = model.transform(feats).select(
        "vec_id", "embedding", F.col("prediction").alias("cell")
    )
    corpus_dir = os.path.join(index_dir, "corpus")
    shutil.rmtree(corpus_dir, ignore_errors=True)
    append_dir(assigned, corpus_dir, ["cell"])
    cents = spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    cents.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )


def query_ivf_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int = DEFAULT_PROBE,
    top_k: int = DEFAULT_TOP_K,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors for ``queries`` (query_id, q_emb) against a
    persisted index. Returns (query_id, neighbor_id, cosine, rk).

    ``exclude_self`` drops candidates whose neighbor_id equals the
    query_id — correct ONLY when queries are drawn from the corpus and
    share its id space (the q51/q53b shape). Pass False for EXTERNAL
    queries: their ids are unrelated, so the filter would silently drop
    a legitimate corpus neighbor that happens to share the number (and a
    non-numeric external id would null the comparison and drop every
    candidate).

    The candidate join keys on the corpus' PARTITION column with a
    broadcast probe side — exactly the shape Spark's dynamic partition
    pruning turns into directory-level skipping of unprobed cells."""
    corpus = read_dir(spark, os.path.join(index_dir, "corpus"))
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    probes = _probe_cells(queries, cents, n_probe)
    cand = corpus.select(
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    out = F.broadcast(probes).join(cand, "cell")
    if exclude_self:
        out = out.filter(F.col("query_id") != F.col("neighbor_id"))
    return (
        out.select("query_id", "neighbor_id", _cosine_col())
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): codebooks + asymmetric-distance (ADC) queries
# ---------------------------------------------------------------------------

PQ_M = 8  # subvectors
PQ_K = 16  # codes per subvector (4-bit codes)


def build_pq_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 7,
    dim: int = 64,
) -> None:
    """Product quantization (Jegou et al., TPAMI 2011): split each vector
    into ``m`` subvectors, k-means each subspace into ``k`` codes, store
    one small code array per vector — 64 float32 dims compress to eight
    4-bit codes (64x). q96 is the scalar (per-dimension) variant; PQ is
    what real ANN engines ship.

    Scale: the m k-means fits see only their subspace (sample-able exactly
    like the IVF quantizer); code ASSIGNMENT is a map-side argmin over
    centroid literals folded into the plan — one scan, no join, no UDF.
    Artifacts: ``codes/`` (vec_id, codes ARRAY<INT>) and ``codebooks/``
    (sub, code, centroid) — the codebook table is m*k rows, broadcast."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = dim // m
    cents: list[list[list[float]]] = []
    for j in range(m):
        sub = emb.select(
            array_to_vector(
                F.slice("embedding", j * d + 1, d).cast("array<double>")
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + j, maxIter=10).fit(sub)
        cents.append([[float(x) for x in c] for c in model.clusterCenters()])

    def _sq(j: int, c: int) -> F.Column:
        # squared L2 from the j-th subvector to centroid c, unrolled
        terms = None
        for t in range(d):
            e = (
                F.col("embedding")[j * d + t].cast("double")
                - F.lit(cents[j][c][t])
            )
            term = e * e
            terms = term if terms is None else terms + term
        return terms

    code_cols = []
    for j in range(m):
        dists = F.array(*[_sq(j, c) for c in range(k)])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"c{j}")
        )
    coded = emb.select("vec_id", *code_cols).select(
        "vec_id", F.array(*[f"c{j}" for j in range(m)]).alias("codes")
    )
    coded.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    rows = [
        (j, c, cents[j][c]) for j in range(m) for c in range(k)
    ]
    spark.createDataFrame(
        rows, "sub INT, code INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "codebooks")
    )


def query_pq_adc(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    top_k: int = DEFAULT_TOP_K,
    m: int = PQ_M,
    dim: int = 64,
    shortlist: int = 0,
    rerank_with: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays full-precision; each
    corpus vector is scored as sum_j LUT[q, j, code_j], where the LUT
    holds the query-subvector x centroid inner products. Returns
    (query_id, neighbor_id, ip, rk) — or (query_id, neighbor_id, cosine,
    rk) when reranking.

    With ``shortlist`` > top_k and ``rerank_with`` (vec_id, embedding),
    runs the production IVFADC+R shape (Jegou et al. §VI): ADC ranks a
    shortlist from codes alone, then ONLY the shortlisted ids are re-scored
    against their full-precision vectors. 4-bit x 8 codes are too coarse to
    rank the final top-k directly (measured: direct ADC recall ~0.2 vs
    ~0.7 with a 50-deep rerank on the test corpus); the shortlist absorbs
    the quantization error where it is cheap.

    Scale: the LUT is queries x m x k rows (tiny, broadcast); the corpus
    side streams (vec_id, sub, code) triples — 4-bit codes, not floats —
    through ONE broadcast join and one (query, vec) sum. The rerank reads
    full vectors for queries x shortlist ids only (broadcast semi-join
    into the corpus scan; on a sorted layout that probe becomes file-level
    id pruning). No full-precision corpus scan is ever ranked end-to-end;
    that is the entire point of PQ."""
    d = dim // m
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    books = spark.read.parquet(os.path.join(index_dir, "codebooks"))
    lut = _query_lut(queries, books, m, d)
    triples = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "code"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    adc_k = max(top_k, shortlist)
    adc = triples.join(F.broadcast(lut), ["sub", "code"])
    if exclude_self:
        adc = adc.filter(F.col("query_id") != F.col("neighbor_id"))
    adc = (
        adc.groupBy("query_id", "neighbor_id")
        .agg(F.sum("partial").alias("ip"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= adc_k)
    )
    if rerank_with is None or shortlist <= top_k:
        # honor the top-k CONTRACT even when a deeper shortlist was
        # requested without a reranker: callers get top_k rows per
        # query, never shortlist-deep results
        return adc.filter(F.col("rk") <= top_k)
    cand = rerank_with.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(adc.select("query_id", "neighbor_id"))
        .join(F.broadcast(queries), "query_id")
        .join(cand, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine_col())
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= top_k)
    )


# ---------------------------------------------------------------------------
# IVFPQ: the composed index (coarse cells + PQ codes inside each cell)
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    n_cells: int = DEFAULT_CELLS,
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = 7,
    dim: int = 64,
) -> None:
    """The composed production index (the IVFADC system of Jegou et al.):
    a coarse quantizer routes vectors to cells; inside each cell only the
    PQ CODES are stored. Layout:

    - ``cells/``     — (vec_id, codes) parquet, partitioned by cell: the
      hot query path touches codes only, and only in probed cells;
    - ``centroids/`` — coarse centroids (broadcast);
    - ``codebooks/`` — PQ codebooks (broadcast);
    - the final rerank reads ``corpus/`` (already cell-partitioned by the
      IVF build) — no separate full-precision copy: a duplicate
      ``vectors/`` store would double the dominant storage cost and
      drift from corpus/ under incremental appends.

    Scale: at 100 TB of vectors, the ADC path reads ~nprobe/n_cells of a
    codes table that is itself ~64x smaller than the raw vectors; the
    full-precision table is touched only for queries x shortlist rows."""
    build_ivf_index(spark, emb, index_dir, n_cells=n_cells, seed=seed)
    build_pq_index(
        spark, emb, index_dir, m=m, k=k, seed=seed, dim=dim
    )
    corpus = read_dir(spark, os.path.join(index_dir, "corpus"))
    codes = spark.read.parquet(os.path.join(index_dir, "codes"))
    corpus.select("vec_id", "cell").join(codes, "vec_id").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(os.path.join(index_dir, "cells"))


def query_ivfpq(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int = DEFAULT_PROBE,
    top_k: int = DEFAULT_TOP_K,
    shortlist: int = 50,
    m: int = PQ_M,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """IVFADC+R end to end: coarse-probe ``n_probe`` cells (the cells scan
    is dynamic-partition-pruned), ADC-score the PQ codes inside those
    cells against the query LUT, shortlist, then exact-cosine rerank the
    shortlist against the cell-partitioned ``corpus/`` store. The rerank
    join carries the CELL key (it rode the ADC all the way), so the
    full-precision read is dynamic-partition-pruned to the probed cells
    — joining on neighbor_id alone would silently full-scan the largest
    artifact on the hot path. Returns (query_id, neighbor_id, cosine,
    rk). ``exclude_self`` as in :func:`query_ivf_index`."""
    d = dim // m
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    books = spark.read.parquet(os.path.join(index_dir, "codebooks"))
    cells = spark.read.parquet(os.path.join(index_dir, "cells"))
    vectors = read_dir(spark, os.path.join(index_dir, "corpus"))

    probes = _probe_cells(queries, cents, n_probe)
    lut = _query_lut(queries, books, m, d)
    # codes scan limited to probed cells (DPP on the partition column);
    # cell rides through the ADC so the rerank can prune on it too
    triples = (
        F.broadcast(probes.select("query_id", "cell"))
        .join(cells, "cell")
        .select(
            "query_id",
            "cell",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("codes").alias("sub", "code"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    adc = triples.join(F.broadcast(lut), ["query_id", "sub", "code"])
    if exclude_self:
        adc = adc.filter(F.col("query_id") != F.col("neighbor_id"))
    adc = (
        adc.groupBy("query_id", "cell", "neighbor_id")
        .agg(F.sum("partial").alias("ip"))
        .withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= shortlist)
    )
    cand = vectors.select(
        "cell",
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        F.broadcast(adc.select("query_id", "cell", "neighbor_id"))
        .join(F.broadcast(queries), "query_id")
        .join(cand, ["cell", "neighbor_id"])
        .select("query_id", "neighbor_id", _cosine_col())
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= top_k)
    )


def append_to_ivf_index(
    spark: SparkSession, new_emb: DataFrame, index_dir: str
) -> None:
    """Incrementally add vectors to a persisted IVF index: assign each new
    vector to its nearest EXISTING coarse centroid (the quantizer is not
    refit — the FAISS add() contract) and append into the cell-partitioned
    corpus. Re-delivered vec_ids are dropped with a probe pruned to the
    touched cells, so at-least-once upstream delivery stays effectively
    once (the K1 idiom).

    Scale: the centroid table is tiny and folds into a map-side argmin
    expression — assignment is one scan of the NEW vectors only; the
    append writes only the partitions the new vectors land in. Quantizer
    drift (cells growing imbalanced as the distribution shifts) is the
    documented operational trigger for an out-of-band rebuild, exactly as
    in any IVF deployment."""
    cents_rows = sorted(
        spark.read.parquet(os.path.join(index_dir, "centroids")).collect(),
        key=lambda r: r["cell"],
    )
    cents = [list(r["centroid"]) for r in cents_rows]
    dim = len(cents[0])

    def _sq(c: int) -> F.Column:
        terms = None
        for t in range(dim):
            e = F.col("embedding")[t].cast("double") - F.lit(cents[c][t])
            term = e * e
            terms = term if terms is None else terms + term
        return terms

    dists = F.array(*[_sq(c) for c in range(len(cents))])
    assigned = new_emb.select(
        "vec_id",
        "embedding",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cell"),
    )
    # intra-batch dedup first: an at-least-once replay often lands the
    # duplicate INSIDE the same batch, where the corpus anti-join cannot
    # see it — without this both copies write and every later query
    # spends two top-k slots on the same neighbor
    assigned = assigned.dropDuplicates(["vec_id"])
    corpus_dir = os.path.join(index_dir, "corpus")
    from allora_indexer_spark.plans.warehouse import (
        _append_data,
        _manifest_read,
        _retry_cas,
    )

    touched = [r[0] for r in assigned.select("cell").distinct().collect()]

    # probe + append as ONE CAS cycle (write_insert_if_absent's): two
    # concurrent appends of the same batch must not both pass the
    # existence probe and double-write (TOCTOU). The basis is captured
    # before the probe and the publish is conditional on it, so a rival
    # that lands rows in between makes the whole probe+append rerun.
    def cycle() -> None:
        basis = _manifest_read(corpus_dir)
        existing = (
            read_dir(spark, corpus_dir)
            .filter(F.col("cell").isin(touched))
            .select("vec_id")
            .distinct()
        )
        novel = assigned.join(existing, "vec_id", "left_anti")
        _append_data(
            novel,
            corpus_dir,
            ["cell"],
            expect=basis["version"] if basis is not None else None,
        )

    _retry_cas(cycle)


# ---------------------------------------------------------------------------
# Registered queries: the persisted index under the driver gate
# ---------------------------------------------------------------------------
#
# q53b demonstrates IVF semantics inline (refit per call); production serves
# from the PERSISTED artifact. These entries put the build-once/query-many
# path itself under the same gate as every other operator: build into a
# session-cached scratch dir, then answer from disk through the exact code
# path a deployment uses (reference analog: the topic_id secondary indexes,
# sql-migrations/v0.5.1/202409242000*.sql:7-43 — an index is an artifact the
# queries consult, not a plan rebuilt per query). No SQL oracle (approximate
# by design, like q53/q53b): the driver records a rows-only check, and
# tests/test_similarity.py gates recall@5 vs the exact q51 baseline plus the
# dynamic-partition-pruning plan shape on the registered entries themselves.

_INDEX_CACHE: dict[tuple, str] = {}


def _corpus_manifest(sf_dir: str) -> tuple[str, dict | None, tuple]:
    """ONE manifest read of the embeddings source, returning
    ``(target_path, manifest_or_None, fingerprint)`` — the single source
    for both the index cache key and the data read (reading the manifest
    twice opened a TOCTOU where a concurrent append flips the version
    between fingerprint and read; duplicating the fingerprint tuple's
    format at two sites was the drift risk this helper closes).

    A MANIFEST-table corpus (a warehouse store that received appends /
    compactions) is fingerprinted by its manifest VERSION: one driver-
    local JSON read, O(1) in corpus size, and every content change flips
    it by construction (appends, folds, and compacts all publish a new
    version). Plain files/dirs fall back to the (path, size, mtime_ns)
    stat walk — fine at fixture scale, and the reason production corpora
    should live in the manifest layout (the walk is the repo's one
    driver-side O(files) loop otherwise)."""
    from allora_indexer_spark.plans.warehouse import _manifest_read

    target = os.path.join(sf_dir, "embeddings.parquet")
    m = _manifest_read(target)
    if m is not None:
        return target, m, (("manifest", target, m["version"]),)
    out = []
    if os.path.isfile(target):
        st = os.stat(target)
        out.append((target, st.st_size, st.st_mtime_ns))
    elif os.path.isdir(target):
        for dirpath, _, files in os.walk(target):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out.append((p, st.st_size, st.st_mtime_ns))
    return target, None, tuple(out)


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """Content signature of the embeddings source so a regenerated or
    grown corpus is never served from a stale persisted index — an index
    is only as current as the data it was built from. See
    :func:`_corpus_manifest` (the shared read this derives from)."""
    return _corpus_manifest(sf_dir)[2]


def _built_index(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Session-cached index build: the first registered-query call per
    (corpus content, kind) trains and persists the artifact; every later
    call is a pure read — the build-once/query-many contract, kept
    visible to the gate (a fresh process rebuilds deterministically:
    fixed seeds). Scratch dirs are reclaimed at interpreter exit."""
    from allora_indexer_spark.plans.warehouse import _read_manifest_data

    # ONE manifest read (via _corpus_manifest) feeds both the cache key
    # and the reader choice: reading it twice opened a TOCTOU where a
    # concurrent append flips the version between the fingerprint and the
    # data read, caching an index built from data the key says does not
    # exist. Pinning the SAME manifest object for the read also matches
    # read_table's flip-safety contract (files referenced directly, GC
    # grace holds them).
    target, m, fp = _corpus_manifest(sf_dir)
    key = (os.path.abspath(sf_dir), kind, fp)
    idx = _INDEX_CACHE.get(key)
    if idx is not None and os.path.isdir(idx):
        return idx
    idx = tempfile.mkdtemp(prefix=f"ann_{kind}_")
    if m is not None:
        emb = _read_manifest_data(spark, target, m)
    else:
        emb = load_table(spark, sf_dir, "embeddings")
    try:
        if kind == "ivf":
            build_ivf_index(spark, emb, idx)
        elif kind == "ivf_dedup":
            # SemDeDup's quantizer (q99zy): cell count scales with the
            # corpus at the same 64-member target as q99zx, so the
            # intra-cell pair join stays O(N * target) — separate from
            # the probe index's fixed DEFAULT_CELLS geometry, whose
            # recall gates (nprobe/n_cells) must not shift under it
            from allora_indexer_spark.operators.similarity import (
                SEMDEDUP_CELL_TARGET,
            )

            n = emb.count()
            cells = max(
                DEFAULT_CELLS,
                (n + SEMDEDUP_CELL_TARGET - 1) // SEMDEDUP_CELL_TARGET,
            )
            build_ivf_index(spark, emb, idx, n_cells=cells)
        else:
            build_ivfpq_index(spark, emb, idx)
    except BaseException:
        shutil.rmtree(idx, ignore_errors=True)
        raise
    _INDEX_CACHE[key] = idx
    atexit.register(shutil.rmtree, idx, ignore_errors=True)
    return idx


def _corpus_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from allora_indexer_spark.operators.similarity import N_QUERIES

    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < N_QUERIES
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


@query("q99zu_ivf_index_topk")  # no oracle: approximate by design
def q99zu_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors served from the PERSISTED IVF index
    (build once via :func:`build_ivf_index`, then :func:`query_ivf_index`
    against the cell-partitioned on-disk corpus).

    Scale: identical plan shape to q53b's query half, but the corpus scan
    reads a pre-clustered artifact — dynamic partition pruning skips every
    unprobed ``cell=`` directory, and the quantizer fit is amortized over
    the index lifetime instead of paid per query. Recall@5 vs q51 and the
    DPP plan shape are gated in tests/test_similarity.py."""
    idx = _built_index(spark, sf_dir, "ivf")
    return query_ivf_index(spark, idx, _corpus_queries(spark, sf_dir))


@query("q99zv_ivfpq_index_topk")  # no oracle: approximate by design
def q99zv_ivfpq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbors from the composed persisted IVFADC+R index: coarse
    probe (DPP-pruned cells), ADC over 4-bit PQ codes, exact-cosine rerank
    of the shortlist against the cell-partitioned full-precision store.

    Scale: the ranked scan reads ~nprobe/n_cells of a codes table ~64x
    smaller than the raw vectors; full-precision reads touch only
    queries x shortlist rows, both joins carrying the cell key so BOTH
    scans are dynamic-partition-pruned (gated in tests)."""
    idx = _built_index(spark, sf_dir, "ivfpq")
    return query_ivfpq(spark, idx, _corpus_queries(spark, sf_dir))


# ---------------------------------------------------------------------------
# SemDeDup over the persisted IVF quantizer (the production cell source)
# ---------------------------------------------------------------------------


def semdedup_ivf(
    spark: SparkSession, index_dir: str, tau: float = 0.95
) -> DataFrame:
    """SemDeDup (Abbas 2023) with the TRAINED coarse quantizer's cells —
    the production counterpart of similarity.semdedup's label-Voronoi /
    round-robin forms: real deployments scale ``n_cells`` with the corpus
    through the SAME k-means the ANN index already maintains (the paper
    runs 50k clusters on LAION), so the dedup pass reuses the index's
    cell-partitioned on-disk corpus instead of assigning twice.

    Plan shape: centroids broadcast for the keep-rule distance; the pair
    join is an equi-join ON THE PARTITION COLUMN of the persisted corpus,
    so both sides scan pre-clustered directories (quadratic only within a
    cell, cell size bounded by the quantizer's n_cells knob). Keep rule
    mirrors similarity.semdedup exactly: a verified pair removes the
    member CLOSER to its cell centroid (keep-least-prototypical); ties
    remove the larger vec_id. Returns one row per REMOVED vector:
    (vec_id, cell, n_dup_partners, max_cosine).

    No DuckDB oracle — k-means centroids are not cross-engine
    reproducible (same reason q53b/q99zu are recall-gated); the planted-
    duplicate fixture pins clique accounting and background safety in
    tests/test_semdedup.py."""
    corpus = read_dir(spark, os.path.join(index_dir, "corpus"))
    cents = spark.read.parquet(os.path.join(index_dir, "centroids"))
    d2 = F.expr(_L2SQ_EXPR).alias("d2")
    av = (
        corpus.select(
            "vec_id", "cell", F.col("embedding").alias("q_emb")
        )
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            d2,
            F.col("q_emb").alias("embedding"),
            F.expr(f"sqrt({_norm2('q_emb', False)})").alias("nrm"),
        )
        .transform(pin_lazy)
    )
    a = av.select(
        F.col("vec_id").alias("vec_a"),
        "cell",
        F.col("d2").alias("d2_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("nrm_a"),
    )
    b = av.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cell").alias("cell_b"),
        F.col("d2").alias("d2_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn(
            "cosine", F.expr(f"({_dot('ea', 'eb', False)}) / (nrm_a * nrm_b)")
        )
        .filter(F.col("cosine") >= F.lit(tau))
    )
    removed = (
        F.when(F.col("d2_a") < F.col("d2_b"), F.col("vec_a"))
        .when(F.col("d2_b") < F.col("d2_a"), F.col("vec_b"))
        .otherwise(F.col("vec_b"))
    )
    return (
        pairs.select("cell", removed.alias("vec_id"), "cosine")
        .groupBy("vec_id", "cell")
        .agg(
            F.count("*").alias("n_dup_partners"),
            F.max("cosine").alias("max_cosine"),
        )
    )


@query("q99zy_semdedup_ivf")  # no oracle: k-means cells, approximate by design
def q99zy_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup served from the PERSISTED IVF index's cells (the
    production path — :func:`semdedup_ivf` over the session-cached
    :func:`_built_index`), at the fixture threshold similarity.SEMDEDUP_TAU
    so the removed set is non-trivial on the synthetic corpus. The
    exact-oracle twins are q99zw (label-Voronoi) and q99zx (corpus-scaled
    cells); this entry is the one whose cell source is the trained
    quantizer, so it is recall-gated in tests rather than DuckDB-checked
    (clique accounting + background safety on the planted fixture;
    removed-set behavior vs the exact form in tests/test_semdedup.py).
    The quantizer is its own ``ivf_dedup`` index build whose cell count
    scales with the corpus (64-member target, like q99zx) — NOT the
    probe index's fixed DEFAULT_CELLS geometry, so dedup cost stays
    bounded per cell while q99zu's recall gates keep their
    nprobe/n_cells ratio."""
    from allora_indexer_spark.operators.similarity import SEMDEDUP_TAU

    idx = _built_index(spark, sf_dir, "ivf_dedup")
    return semdedup_ivf(spark, idx, tau=SEMDEDUP_TAU)
