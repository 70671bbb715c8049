"""Embedding similarity search over array<float> columns.

Tiers:
- ``brute_force_knn``: exact cosine top-k — the correctness baseline.
  O(|queries| × |corpus|); fine when the query set is small enough to
  broadcast (the usual case: a probe/eval set vs a 100 TB corpus).
- ``lsh_knn``: random-hyperplane (sign) LSH — the scale path. Each
  vector hashes to one bucket per table; candidates share a bucket in
  ≥1 table; exact cosine re-ranks candidates. Shuffle is proportional
  to bucket collisions, not |corpus|².
- ``ivf_knn``: inverted-file (IVF-flat) — corpus rows assigned to the
  nearest of nlist cells, queries probe only the ``nprobe`` nearest
  cells. At 100 TB the assignment is a one-time index build persisted
  with ``partitionBy(cell)`` so a probe reads nprobe/nlist of the data.
- ``pq_knn_rerank`` / ``ivfpq_knn``: product quantization — an ADC scan
  over m-subspace codes cuts a shortlist that exact cosine re-ranks;
  IVF∘PQ scans only the probed cells' codes.

One vector-quantization core serves every index and k-means:
``pq_codebooks`` is the only Lloyd trainer, ``_sq_dist`` the only
squared distance and ``_scored`` the only codeword scoring (its
array_min is the argmin). The IVF cells are the one-subspace codebook
``pq_codebooks(corpus, m=1, ks=nlist)`` and a vector's cell is its m=1
code; ``kmeans_fit_predict`` is that m=1 training plus one final
assignment.

The quantizer runs on an integer protocol (see the core's comment), so
codebooks, codes, cells and ADC distances are exact integers. The exact
tiers — every cosine score and re-rank — fold the raw vectors in
double, sequentially, so they are deterministic too. All arithmetic is
JVM-side; no Python in the data path.
"""

from __future__ import annotations

import math
import random
from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from mapreducewordoccurences_spark.operators.windows import top_k_per_group
from mapreducewordoccurences_spark.sources.readers import (
    parquet_footer_rows,
    read_parquet,
)


def dot(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ as double, sequential left fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (||a||·||b||), double precision."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _rerank_candidates(cand: DataFrame, k: int, query_id_col: str) -> DataFrame:
    """The one exact re-rank: cosine of every (query, neighbor)
    candidate of ``cand`` (query_id, neighbor_id, __qvec, __cvec), then
    the per-query top-k on (sim desc, neighbor_id asc) →
    (query_id, neighbor_id, rnk, sim)."""
    scored = cand.select(
        query_id_col,
        "neighbor_id",
        cosine_similarity("__qvec", "__cvec").alias("sim"),
    )
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select(query_id_col, "neighbor_id", "rnk", "sim")


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (a query's
    own id is never its neighbor).

    The query side is broadcast (it must be small — an eval set, a
    dedup probe batch); the corpus streams through map-side with NO
    shuffle of corpus rows. The only shuffle is the per-query top-k
    (WindowGroupLimit prunes map-side to k rows per query per
    partition, so the shuffle carries O(queries × k × partitions)).

    Returns (query_id, neighbor_id, rnk, sim); ties broken by
    neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    cand = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).join(F.broadcast(q), on=F.col("neighbor_id") != F.col(query_id_col), how="inner")
    return _rerank_candidates(cand, k, query_id_col)


# ---------------------------------------------------------------------------
# Vector quantization core — the one Lloyd trainer behind every ANN index
# and k-means here. Product quantization (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011) splits each vector
# into m subspaces with ks codewords each; the IVF coarse quantizer and
# k-means are its m=1 case (one subspace = the whole vector).
#
# Integer protocol: float means depend on summation order (IEEE addition
# does not associate), so a float trainer yields a different model per
# shuffle schedule. Each pass quantizes the vectors to non-negative
# integers, trunc(v·2^20) + 2^21 (for |v| < 2; distances are
# shift-invariant). Squared distances are then exact integer sums, the
# argmin is totally ordered by (dist, code), and a codeword update is an
# exact integer sum and a truncating division, which equals floor
# division on these non-negative operands in Spark's ``div`` and DuckDB's
# ``//`` alike. Codebooks are bit-identical on any partitioning and any
# engine; the DuckDB oracle ``queries._shared._kmeans_a2_cte`` replays
# the k-means case.
#
# Scale shape of a Lloyd round: one broadcast plus one shuffle bounded by
# ks·dim rows per map partition. Every codebook rides in ONE broadcast
# row and the argmin folds in-row, so assignment is map-only; the update
# posexplodes each vector once into (sub, code, dim, value) rows, which
# partial aggregation collapses before the exchange. The vectors never
# shuffle.
# ---------------------------------------------------------------------------

_SCALE = 1 << 20  # quantization step: trunc(v * 2^20)
_SHIFT = 1 << 21  # keeps quantized coordinates non-negative for |v| < 2

# The in-row expressions below are Spark SQL text: one parse on the JVM
# where the Column API would make a py4j call per node of every nested
# lambda, which a query that trains at build time pays per build.


def _quantized(df: DataFrame, vec_col: str, *cols: Column | str) -> DataFrame:
    """(*cols, __q): ``vec_col`` as array<bigint> trunc(v·2^20) + 2^21.
    The double→bigint cast truncates toward zero, and the shift keeps
    every coordinate non-negative, so an update's truncating division
    is floor division."""
    return df.select(
        *cols,
        F.expr(
            f"transform(`{vec_col}`,"
            f" x -> CAST(CAST(x AS DOUBLE) * {_SCALE} AS BIGINT) + {_SHIFT})"
        ).alias("__q"),
    )


def _sq_dist(a: str, b: str) -> str:
    """Exact integer squared L2 of two array<bigint>: integer addition
    associates, so the fold order cannot change the result."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, x) -> acc + x)"
    )


def _subspaces(m: int, fn) -> str:
    """``[fn(j) for j in 0..m-1]`` as one in-row array (no lambda at
    m=1)."""
    if m == 1:
        return f"array({fn('0')})"
    return f"transform(sequence(0, {m - 1}), j -> {fn('j')})"


def _subvec(vec: str, j: str, m: int) -> str:
    """Subspace ``j`` of ``m``: the contiguous slice of size(vec) div m
    coordinates (trailing coordinates past m of them belong to no
    subspace) — the whole vector at m=1."""
    if m == 1:
        return vec
    return f"slice({vec}, {j} * (size({vec}) div {m}) + 1, size({vec}) div {m})"


def _subvectors(df: DataFrame, m: int, *keep: str) -> DataFrame:
    """(*keep, __sub, __subvec): the quantized ``__q`` of each row split
    into its m subvectors, one row each."""
    return df.select(
        *keep,
        F.posexplode(F.expr(_subspaces(m, lambda j: _subvec("__q", j, m)))).alias(
            "__sub", "__subvec"
        ),
    )


def _scored(vec: str, codes: str) -> str:
    """struct(__d, __code) of ``vec`` against every codeword of
    ``codes``: its array_min is the nearest codeword in (dist, code)
    order — the lowest code on equal distance — and its sorted prefix
    a probe list."""
    return (
        f"transform({codes}, c -> struct({_sq_dist(vec, 'c.__cvec')} AS __d,"
        " c.__code AS __code))"
    )


def _nearest(m: int) -> Column:
    """Per subspace, the nearest codeword struct(__d, __code) of the
    quantized ``__q`` among the ``__books`` row (m entries)."""
    return F.expr(
        _subspaces(
            m, lambda j: f"array_min({_scored(_subvec('__q', j, m), f'__books[{j}]')})"
        )
    )


def _with_books(vecs: DataFrame, books: DataFrame, m: int) -> DataFrame:
    """``vecs`` (quantized, ``__q``) beside ONE broadcast row,
    ``__books``, holding all m codebooks — element j is subspace j's
    codewords. A keyless broadcast join, so assignment never shuffles
    the corpus."""
    book_row = books.agg(
        F.collect_list(F.struct("__sub", "__code", "__cvec")).alias("__all")
    ).select(
        F.expr(_subspaces(m, lambda j: f"filter(__all, c -> c.__sub = {j})")).alias(
            "__books"
        )
    )
    return vecs.crossJoin(F.broadcast(book_row))


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Per-subspace Lloyd codebooks after ``iters`` updates →
    (__sub, __code, __cvec), m·ks rows, ``__cvec`` an array<bigint> in
    quantized space. The only trainer: the IVF coarse quantizer is
    ``pq_codebooks(corpus, m=1, ks=nlist, iters=kmeans_iters)``, whose
    ``__code`` is the cell id and ``__cvec`` the cell centroid, and
    ``kmeans_fit_predict`` trains the same m=1 codebook.

    Seeds are the ks lowest-id vectors (a TakeOrderedAndProject —
    bounded, no corpus-wide window), split into subvectors. Each round
    assigns every vector (the broadcast codebook row, in-row argmin)
    and replaces each codeword by the exact integer mean of its
    members, per dimension. Empty codewords drop out (fewer codes,
    never a crash). All m subspaces train in the SAME passes — the
    corpus streams once per round, not once per subspace. Each round's
    codebooks are a lazy localCheckpoint, so the next round's plan does
    not carry the last one's lineage. At 100 TB, train on a
    hash-sampled slice (codebooks need ~100k points, not the corpus)
    and broadcast the result."""
    vecs = _quantized(corpus, vec_col, id_col)
    seeds = vecs.orderBy(id_col).limit(ks).select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("__code"), "__q"
    )
    books = _subvectors(seeds, m, "__code").select(
        "__sub", "__code", F.col("__subvec").alias("__cvec")
    )
    for _ in range(iters):
        books = (
            _with_books(vecs, books, m)
            .select(
                _nearest(m)["__code"].alias("__codes"),
                F.expr(f"int(size(__q) div {m})").alias("__dim"),
                "__q",
            )
            # a projection beside a generator is evaluated per generated
            # row: the argmin runs here, once per vector, not once per
            # coordinate
            .select("__codes", "__dim", F.posexplode("__q").alias("__pos", "__v"))
            .withColumn("__sub", F.expr("int(__pos div __dim)"))
            .where(F.col("__sub") < m)
            .groupBy("__sub", F.expr("__codes[__sub]").alias("__code"), "__pos")
            .agg(F.sum("__v").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .groupBy("__sub", "__code")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list("
                    "named_struct('pos', __pos, 'mean', __s div __n))), p -> p.mean)"
                ).alias("__cvec")
            )
            .localCheckpoint(eager=False)
        )
    return books


def kmeans_fit_predict(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """k-means as the m=1 codebook: ``iters`` assignment passes from
    the k lowest-id seeds — ``iters - 1`` centroid updates, then the
    final assignment → (id_col, cluster_id, sq_dist).

    Every returned number is an exact integer in quantized space,
    bit-identical across engines and partitionings; the DuckDB oracle
    ``_kmeans_a2_cte`` replays it."""
    cells = pq_codebooks(df, 1, k, id_col, vec_col, iters - 1)
    best = _nearest(1)[0]
    return _with_books(_quantized(df, vec_col, id_col), cells, 1).select(
        id_col,
        best["__code"].alias("cluster_id"),
        best["__d"].alias("sq_dist"),
    )


def kmeans_cluster_profile(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Cluster-level summary of the fit: (cluster_id, n_members,
    sum_sq_dist) — exact integers, the oracle-checkable face of the
    trainer."""
    a = kmeans_fit_predict(df, id_col, vec_col, k=k, iters=iters)
    return a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("sq_dist").alias("sum_sq_dist"),
    )


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, __sub, __code): nearest-codeword id per subspace — the
    stored form. m log2(ks)-bit codes replace the float vector: at
    m=8, ks=16 that is 4 bytes/vector vs 256 for float32×64 — the 64×
    compression that lets a trillion-vector corpus live in RAM. With
    an m=1 codebook, ``__code`` is the vector's IVF cell."""
    return _with_books(_quantized(corpus, vec_col, id_col), books, m).select(
        id_col, F.posexplode(_nearest(m)["__code"]).alias("__sub", "__code")
    )


def _ivf_cells(
    corpus: DataFrame, cells: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, __cell, vec): the IVF assignment — the m=1 code of each
    vector, beside the raw vector the exact re-rank scores."""
    return _with_books(_quantized(corpus, vec_col, id_col, vec_col), cells, 1).select(
        id_col, _nearest(1)[0]["__code"].alias("__cell"), vec_col
    )


def _run_concurrent_jobs(*thunks) -> None:
    """Run independent Spark actions from a small driver thread pool so
    each job's task tail is back-filled by the next job's tasks instead
    of leaving the executors idle between sequential actions.
    InheritableThread propagates the JVM thread-locals (job
    description/group) into the pool threads. Exceptions propagate."""
    from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

    from pyspark import inheritable_thread_target  # noqa: PLC0415

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(th)) for th in thunks
        ]
        for f in futures:
            f.result()


def _trained_books(
    corpus: DataFrame, id_col: str, vec_col: str, *specs
) -> list[DataFrame]:
    """One table per ``(given, m, ks, iters)`` spec: ``given`` when the
    caller passed a trained table, else ``pq_codebooks(corpus, m, ks,
    iters=iters)`` materialized by an eager localCheckpoint, so the
    Lloyd lineage runs once for all its consumers (its blocks are
    freed by ``unpersist()`` or when the DataFrame is garbage-collected
    — no session-lifetime cache). Missing tables are independent
    trainings (IVF cells and PQ codebooks) and run as concurrent
    jobs."""
    out = [spec[0] for spec in specs]

    def train(i: int) -> None:
        _, m, ks, iters = specs[i]
        out[i] = pq_codebooks(
            corpus, m, ks, id_col, vec_col, iters
        ).localCheckpoint(eager=True)

    missing = [i for i, spec in enumerate(specs) if spec[0] is None]
    if missing:
        _run_concurrent_jobs(*[partial(train, i) for i in missing])
    return out

def _probe_cells(
    queries: DataFrame,
    cells: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(query_id, __qvec, __cell) for each query's nprobe nearest
    cells: the quantized queries meet the broadcast row of the m=1
    codebook as the corpus does in an assignment, and the per-query
    top-nprobe is an in-row array_sort + slice over the (dist, cell)
    order, so probing plans no window Exchange at all. ``__qvec`` is
    the raw query vector, for the exact re-rank."""
    near = F.expr(f"slice(array_sort({_scored('__q', '__books[0]')}), 1, {nprobe})")
    q = _quantized(
        queries,
        vec_col,
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
    )
    return _with_books(q, cells, 1).select(
        query_id_col, "__qvec", F.explode(near["__code"]).alias("__cell")
    )


def _ivf_search(
    assigned: DataFrame,
    cells: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The IVF-flat search body of ``ivf_knn`` (assignment computed
    inline) and ``ivf_probe`` (assignment read from the index).
    ``assigned`` is (id, __cell, vec); it joins the broadcast probe
    list on ``__cell`` — a dynamic-partition-pruning filter when
    ``assigned`` is the __cell-partitioned parquet scan — and the
    candidates are re-ranked by exact cosine."""
    probes = _probe_cells(queries, cells, nprobe, id_col, vec_col, query_id_col)
    cand = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            "__cell",
            F.col(vec_col).alias("__cvec"),
        )
        .join(F.broadcast(probes), "__cell")
        .where(F.col("neighbor_id") != F.col(query_id_col))
    )
    return _rerank_candidates(cand, k, query_id_col)


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF-flat, index built inline.

    Corpus rows join queries only within the query's ``nprobe``
    nearest cells → the candidate set shrinks by ~nprobe/nlist vs
    brute force. Recall rises with nprobe (nprobe = nlist ≡ exact).
    The query side is broadcast, as in ``brute_force_knn`` (a probe or
    eval set). The cell table (nlist rows) is materialized eagerly via
    localCheckpoint so the Lloyd lineage runs once for both the
    assignment and the probe; its blocks are freed when the DataFrame
    is garbage-collected (no session-lifetime cache leak).

    At real scale use ``build_ivf_index`` + ``ivf_probe`` instead:
    the assignment is persisted ``partitionBy(__cell)`` once, and each
    probe batch reads only nprobe/nlist of the files via dynamic
    partition pruning.

    ``centroids`` accepts an already-trained (and ideally already
    materialized) cell table, ``pq_codebooks(corpus, m=1, ks=nlist,
    iters=kmeans_iters)`` — callers composing this with
    ``build_ivf_index`` over the same corpus train ONCE and pass the
    result to both (the trainer is fixed-point deterministic, so
    sharing is bit-identical to retraining)."""
    (cells,) = _trained_books(
        corpus, id_col, vec_col, (centroids, 1, nlist, kmeans_iters)
    )
    return _ivf_search(
        _ivf_cells(corpus, cells, id_col, vec_col),
        cells,
        queries,
        k,
        nprobe,
        id_col,
        vec_col,
        query_id_col,
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    centroids: DataFrame | None = None,
) -> None:
    """One-time IVF-flat index build, persisted for partition-pruned
    probes (the 100 TB layout the ivf_knn docstring prescribes):

    - ``{path}/centroids``: the m=1 codebook, nlist rows
      (__sub = 0, __code = cell id, __cvec = centroid)
    - ``{path}/assignment``: every corpus vector (id, vec) under its
      nearest cell, written ``partitionBy(__cell)`` — one directory
      per cell, so a probe of nprobe cells reads nprobe/nlist of the
      files.

    The index build shuffles O(corpus) rows once; probes never touch
    the un-indexed corpus again.

    ``centroids`` accepts a pre-trained cell table (see ivf_knn);
    when provided, its lifecycle (checkpoint blocks) stays with the
    caller.
    """
    (cells,) = _trained_books(
        corpus, id_col, vec_col, (centroids, 1, nlist, kmeans_iters)
    )
    assigned = _ivf_cells(corpus, cells, id_col, vec_col)
    # the two index files are independent jobs; submit them together so
    # the tiny centroids write back-fills the assignment write's task
    # tail instead of queueing behind it
    _run_concurrent_jobs(
        lambda: assigned.write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(f"{path}/assignment"),
        lambda: cells.write.mode("overwrite").parquet(f"{path}/centroids"),
    )
    if centroids is None:
        cells.unpersist()


def _read_codebook(spark: SparkSession, path: str) -> DataFrame:
    """An index's codebook table (``centroids`` or ``books``), refused
    unless its codewords are integers. An index built by the earlier
    float trainer stores ``__cvec`` as array<double>: raw-space
    codewords, off the quantized queries by the 2^20 scale and the
    2^21 shift, which the integer fold would otherwise reject with a
    type-mismatch AnalysisException that names neither the table nor
    the fix. The check reads the schema ``read_parquet`` already
    holds, so it fires no Spark job."""
    df = read_parquet(spark, path)
    elem = df.schema["__cvec"].dataType.elementType
    if not isinstance(elem, LongType):
        raise ValueError(
            f"{path}: __cvec holds {elem.simpleString()} codewords, not the"
            " bigint codewords of the integer quantizer; the index predates"
            " it — rebuild it with build_ivf_index / build_ivfpq_index"
        )
    return df


def ivf_probe(
    queries: DataFrame,
    path: str,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nprobe: int = 4,
) -> DataFrame:
    """Probe a persisted IVF index (``build_ivf_index``) — the same
    search body as ``ivf_knn``, reading the cells and the assignment
    from the index files.

    The assignment scan joins the (broadcast) probe list on ``__cell``
    — the partition column — so Catalyst inserts a dynamic-partition-
    pruning filter and only nprobe/nlist of the index files are read
    (plan-tested in tests/test_plans.py). Per-batch cost is
    O(|queries| × corpus × nprobe/nlist), independent of total corpus
    file count."""
    spark = queries.sparkSession
    return _ivf_search(
        read_parquet(spark, f"{path}/assignment"),
        _read_codebook(spark, f"{path}/centroids"),
        queries,
        k,
        nprobe,
        id_col,
        vec_col,
        query_id_col,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller over a
    seeded PRNG) — plain literals, no numpy dependency in the plan."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec · plane_i), packed into a
    BIGINT. Computed entirely with built-in array ops."""
    bits = []
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(
            F.when(dot(vec, p) >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH.

    Each table hashes every vector into one of 2^n_planes buckets;
    query and corpus rows join on (table, bucket) — an equi-join that
    shuffles only colliding rows — then exact cosine re-ranks the
    union of candidates. Recall is tuned by (n_planes ↓, n_tables ↑).

    Defaults (4 planes × 16 tables → recall ≈0.86 on isotropic 64-d
    test data) suit top-k retrieval where neighbor similarities are
    modest; for NEAR-DUP detection (cos ≥ 0.9) raise n_planes — high
    similarity survives many hyperplane cuts, and bigger buckets
    aren't needed. Bucket count (2^n_planes) should grow with corpus
    size: target ~corpus/2^n_planes candidates per bucket per table.
    """
    tables = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        tables.append((t, planes))

    def bucketize(df: DataFrame, ident: str, vec_alias: str) -> DataFrame:
        # ONE scan: all n_tables bucket ids computed in a single
        # projected array, then posexplode to (table, bucket) rows.
        # (A union of n_tables select() branches would re-scan the
        # corpus once per table — 16 full passes at 100 TB.)
        buckets = F.array(*[lsh_bucket(vec_col, planes) for _, planes in tables])
        return df.select(
            F.col(id_col).alias(ident),
            F.col(vec_col).alias(vec_alias),
            F.posexplode(buckets).alias("__table", "__bucket"),
        )

    qb = bucketize(queries, query_id_col, "__qvec")
    cb = bucketize(corpus, "neighbor_id", "__cvec")
    cand = (
        cb.join(qb, on=["__table", "__bucket"], how="inner")
        .where(F.col("neighbor_id") != F.col(query_id_col))
        .select(query_id_col, "neighbor_id", "__qvec", "__cvec")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    return _rerank_candidates(cand, k, query_id_col)


def quantize_embedding(vec: Column | str) -> Column:
    """Symmetric int8 quantization of one vector: struct(q, scale)
    where ``q[i] = clamp(round_half_up(v[i] * 127 / max|v|), -127, 127)``
    and ``scale = max|v| / 127`` (so ``v ≈ q * scale``).

    round-half-up is spelled ``floor(x + 0.5)`` — identical in every
    engine, unlike round() whose half-way tie rule differs (banker's
    vs away-from-zero) between Spark, DuckDB, and numpy.

    Zero vectors quantize to all-zero q with scale 0. The int8 payload
    is 4× smaller than float32 — at 100 TB that is the difference
    between a shuffle that fits and one that spills; dot products on
    the quantized form then run in cheap integer arithmetic and the
    exact tier re-ranks only the survivors.
    """
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = mx / F.lit(127.0)
    q = F.when(mx > 0, F.transform(
        vec,
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int"),
            ),
        ).cast("tinyint"),
    )).otherwise(F.transform(vec, lambda x: F.lit(0).cast("tinyint")))
    return F.struct(q.alias("q"), scale.alias("scale"))


def quantized_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-stage top-k: score EVERY candidate on the int8-quantized
    vectors (integer dot product × scales ≈ cosine numerator; norms
    also from the quantized form, so ranking error is bounded by
    quantization noise), keep ``rerank_factor × k`` per query, then
    re-rank those exactly in float. Same output schema as
    ``brute_force_knn``: (query_id, neighbor_id, cos_sim, rnk).

    Why it scales: the wide scoring pass (|corpus| × |queries|) does
    integer multiply-adds on int8 vectors instead of double FMAs, and
    the double-precision pass touches only rerank_factor × k ×
    |queries| rows. For a STORED quantized corpus (persist q + scale,
    drop float32) the scan itself shrinks 4× — at 100 TB that is the
    dominant saving; keep a float copy only for the final re-rank
    fetch. Recall vs brute force is tested on the testdata embeddings.
    """
    cq = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        quantize_embedding(vec_col).alias("__cq"),
    )
    qq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        quantize_embedding(vec_col).alias("__qq"),
    )
    # integer dot product folded in long; cosine on quantized vectors
    qdot = F.aggregate(
        F.zip_with(
            F.col("__cq.q"), F.col("__qq.q"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")
    qnorm_c = F.sqrt(F.aggregate(
        F.transform(F.col("__cq.q"), lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v,
    ).cast("double"))
    qnorm_q = F.sqrt(F.aggregate(
        F.transform(F.col("__qq.q"), lambda x: x.cast("long") * x.cast("long")),
        F.lit(0).cast("long"), lambda a, v: a + v,
    ).cast("double"))
    approx = qdot / (qnorm_c * qnorm_q)

    scored = (
        cq.join(F.broadcast(qq), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "__cv", "__qv", approx.alias("__approx"))
    )
    cand = top_k_per_group(
        scored,
        ["query_id"],
        [F.col("__approx").desc(), F.col("neighbor_id").asc()],
        rerank_factor * k,
    )
    exact = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__qv", "__cv").alias("cos_sim"),
    )
    return top_k_per_group(
        exact,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("neighbor_id").asc()],
        k,
    ).select("query_id", "neighbor_id", "cos_sim", "rnk")


# ---------------------------------------------------------------------------
# PQ search — the memory-bound ANN tier: an asymmetric-distance (ADC) scan
# over the codes cuts a shortlist that the exact tier re-ranks. Flat PQ is
# the one-cell case of IVF∘PQ.
# ---------------------------------------------------------------------------

def pq_knn_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = 100,
    m: int = 16,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ as deployed (Jégou et al. §V): the ADC scan produces a
    ``shortlist`` of candidates from the CODES (4-byte rows — the only
    thing a memory-bound scan touches), then the exact tier re-ranks
    just those candidates from the full vectors. Recall@5 vs brute
    force measured 1.0 at every tested sf with shortlist=100, m=16
    (random unit vectors are PQ's hardest case — no cluster structure
    for codewords to exploit; the shortlist+rerank shape is what
    makes the tier robust to it). Returns (query_id, neighbor_id,
    rnk, sim) — same contract as the other ANN tiers.

    Flat scan: every code row sits in one cell that every query
    probes, so the ADC sum shuffles O(corpus × queries) id pairs —
    fine for bounded probe sets; for a real query load use
    ``ivfpq_knn`` (or the persisted ``build_ivfpq_index`` +
    ``ivfpq_probe``), which scans only the nprobe/nlist probed IVF
    cells per query."""
    # the codebooks feed both the corpus encode and the query distance
    # table; materialize them once (m·ks rows)
    books = pq_codebooks(corpus, m, ks, id_col, vec_col).localCheckpoint(
        eager=True
    )
    coded = pq_encode(corpus, books, m, id_col, vec_col).withColumn(
        "__cell", F.lit(0)
    )
    probes = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.lit(0).alias("__cell"),
    )
    return _adc_shortlist_rerank(
        coded, probes, books, queries, corpus, k, shortlist, m,
        id_col, vec_col, query_id_col,
    )


def _adc_shortlist_rerank(
    coded: DataFrame,
    probes: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    shortlist: int,
    m: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """The PQ search body of ``pq_knn_rerank``, ``ivfpq_knn`` and
    ``ivfpq_probe``: ADC-score the coded rows of each query's probed
    cells only, cut a per-query ``shortlist`` from the codes, then
    fetch the shortlist's full vectors by id and re-rank it exactly.

    ``coded`` is (id, __sub, __code, __cell); ``probes`` is
    (query_id, __qvec, __cell), one row per probed cell. The distance
    table — each query's squared L2 to every codeword, m·ks rows per
    probed cell — is the broadcast side of the ADC join, keyed on
    (__cell, __sub, __code), so the cell restriction is part of the
    map-side join (and a dynamic-partition-pruning filter when
    ``coded`` is a __cell-partitioned parquet scan). The ADC shuffle
    is O(Σ_q |probed cells of q| × m). ``vectors`` is the (id, vec)
    store of the re-rank fetch."""
    dt = (
        _subvectors(
            _quantized(probes, "__qvec", query_id_col, "__cell"),
            m,
            query_id_col,
            "__cell",
        )
        .join(F.broadcast(books), "__sub")
        .select(
            query_id_col,
            "__cell",
            "__sub",
            "__code",
            F.expr(_sq_dist("__subvec", "__cvec")).alias("__d"),
        )
    )
    scored = (
        coded.join(F.broadcast(dt), ["__cell", "__sub", "__code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").alias("__dist"))
    )
    cand = top_k_per_group(
        scored.select(
            query_id_col, F.col(id_col).alias("neighbor_id"), "__dist"
        ),
        [query_id_col],
        [F.col("__dist").asc(), F.col("neighbor_id").asc()],
        shortlist,
    ).select(query_id_col, "neighbor_id")
    qv = queries.select(
        F.col(id_col).alias(query_id_col), F.col(vec_col).alias("__qvec")
    )
    cv = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    )
    joined = cand.join(F.broadcast(qv), query_id_col).join(cv, "neighbor_id")
    return _rerank_candidates(joined, k, query_id_col)


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    shortlist: int = 100,
    m: int = 16,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    kmeans_iters: int = 2,
    pq_iters: int = 2,
    centroids: DataFrame | None = None,
    books: DataFrame | None = None,
) -> DataFrame:
    """IVF∘PQ (Jégou et al. TPAMI'11 §V, IVFADC): the memory-bound PQ
    scan composed with IVF cell pruning — the deployed
    billion-vector layout. The coarse quantizer (an m=1 codebook of
    nlist cells) bounds WHICH codes each query scans (nprobe/nlist of
    the corpus); PQ bounds WHAT a scan touches (m log2(ks)-bit codes,
    not float vectors); the exact tier re-ranks a ``shortlist`` from
    the full vectors so codebook quantization never surfaces in the
    top-k.

    vs flat ``pq_knn_rerank``: the ADC shuffle drops from
    O(corpus × queries) to O(corpus × queries × nprobe/nlist).
    vs ``ivf_knn``: the probed-cell scan touches codes (4-16 B/row),
    not embeddings (256 B/row) — the tier a trillion-row corpus needs
    to keep its index in RAM. Deterministic end-to-end: fixed-point
    codebooks + (dist, id) tie-breaks.

    Returns (query_id, neighbor_id, rnk, sim) — the family contract.

    ``centroids``/``books`` accept pre-trained tables,
    ``pq_codebooks(corpus, m=1, ks=nlist, iters=kmeans_iters)`` and
    ``pq_codebooks(corpus, m, ks, iters=pq_iters)`` (see ivf_knn) —
    the fixed-point trainer is deterministic, so sharing is
    bit-identical to retraining.
    """
    cells, books = _trained_books(
        corpus,
        id_col,
        vec_col,
        (centroids, 1, nlist, kmeans_iters),
        (books, m, ks, pq_iters),
    )
    coded = pq_encode(corpus, books, m, id_col, vec_col).join(
        _ivf_cells(corpus, cells, id_col, vec_col).select(id_col, "__cell"), id_col
    )
    return _adc_shortlist_rerank(
        coded,
        _probe_cells(queries, cells, nprobe, id_col, vec_col, query_id_col),
        books, queries, corpus, k, shortlist, m,
        id_col, vec_col, query_id_col,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 16,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    pq_iters: int = 2,
    centroids: DataFrame | None = None,
    books: DataFrame | None = None,
) -> None:
    """One-time IVF∘PQ index build, persisted for partition-pruned
    ADC probes:

    - ``{path}/centroids``: the m=1 codebook of nlist coarse cells
      (__sub = 0, __code = cell id, __cvec = centroid)
    - ``{path}/books``: m·ks PQ codewords (__sub, __code, __cvec)
    - ``{path}/codes``: (id, __sub, __code) per corpus vector,
      written ``partitionBy(__cell)`` — a probe of nprobe cells reads
      nprobe/nlist of the CODE files (the only thing the scan
      touches; full vectors are fetched id-keyed for the shortlist
      re-rank only)
    - ``{path}/vectors``: (id, vec) for the re-rank fetch
    - ``{path}/meta``: one row, ``n_rows`` = the vector count

    Build cost: two concurrent codebook trainings + one encode, each
    O(corpus) with broadcast codebooks — paid once; probes never
    rescan the un-indexed corpus.

    ``centroids``/``books`` accept pre-trained tables (see
    ivfpq_knn); when provided, their lifecycle stays with the
    caller."""
    cells, pq_books = _trained_books(
        corpus,
        id_col,
        vec_col,
        (centroids, 1, nlist, kmeans_iters),
        (books, m, ks, pq_iters),
    )
    codes = pq_encode(corpus, pq_books, m, id_col, vec_col).join(
        _ivf_cells(corpus, cells, id_col, vec_col).select(id_col, "__cell"), id_col
    )
    # the four index files are independent writes; overlapping them
    # lets the small books/centroids jobs and the plain
    # vectors copy back-fill the partitioned codes write's tail —
    # measured ~1 s off the build at sf0.1, and on a real cluster it
    # keeps executors busy through the commit barriers
    _run_concurrent_jobs(
        lambda: codes.write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(f"{path}/codes"),
        lambda: pq_books.write.mode("overwrite").parquet(f"{path}/books"),
        lambda: cells.write.mode("overwrite").parquet(f"{path}/centroids"),
        lambda: corpus.select(id_col, vec_col)
        .write.mode("overwrite")
        .parquet(f"{path}/vectors"),
    )
    # persist the corpus row count as index metadata so probe/
    # acceptance paths can size shortlist fractions without
    # re-counting the corpus. Counting the JUST-WRITTEN vectors is
    # footer-metadata work, and both the count and the 1-row meta
    # write happen DRIVER-SIDE via pyarrow (zero Spark jobs — the
    # spark.read.count + spark.range write pair costs ~0.5 s of job
    # latency per build). Falls back to that Spark pair on non-local
    # filesystems, where pyarrow cannot reach the index path
    # directly.
    spark = corpus.sparkSession
    try:
        _write_meta_rowcount_local(f"{path}/vectors", f"{path}/meta")
    except OSError:
        n_rows = spark.read.parquet(f"{path}/vectors").count()
        spark.range(1).select(
            F.lit(int(n_rows)).cast("bigint").alias("n_rows")
        ).write.mode("overwrite").parquet(f"{path}/meta")
    if centroids is None:
        cells.unpersist()
    if books is None:
        pq_books.unpersist()


def _write_meta_rowcount_local(vectors_dir: str, meta_dir: str) -> None:
    """Sum the just-written vector files' parquet FOOTER row counts
    (the files Spark reads, see ``parquet_footer_rows``) and write the
    1-row meta table, all driver-side via pyarrow — no Spark job for
    either step. Local-filesystem paths only: raises OSError, before
    writing anything, when ``vectors_dir`` is not a local directory (a
    URI such as ``file:``/``hdfs:``) or holds no parquet files, so the
    caller's Spark fallback counts instead of a silent ``n_rows=0``."""
    import os  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    if not os.path.isdir(vectors_dir):
        raise NotADirectoryError(f"not a local directory: {vectors_dir}")
    n_rows = parquet_footer_rows(vectors_dir)
    os.makedirs(meta_dir, exist_ok=True)
    # clear prior part files (overwrite semantics, matching the Spark
    # writer this replaces)
    for f in os.listdir(meta_dir):
        if f.endswith((".parquet", ".crc")) or f == "_SUCCESS":
            os.remove(os.path.join(meta_dir, f))
    pq.write_table(
        pa.table({"n_rows": pa.array([n_rows], type=pa.int64())}),
        os.path.join(meta_dir, "part-00000-meta.parquet"),
    )


def ivfpq_index_rowcount(spark: SparkSession, path: str) -> int:
    """Corpus row count recorded at ``build_ivfpq_index`` time — one
    1-row parquet read instead of a full corpus scan. Read driver-side
    via pyarrow when the path is local (no Spark job); Spark read
    otherwise. Zero-row part files (a Spark writer may leave them) are
    skipped."""
    try:
        import os  # noqa: PLC0415

        import pyarrow.parquet as pq  # noqa: PLC0415

        meta_dir = f"{path}/meta"
        for f in sorted(os.listdir(meta_dir)):
            if f.endswith(".parquet"):
                rows = pq.read_table(os.path.join(meta_dir, f)).column("n_rows")
                if len(rows):
                    return int(rows[0].as_py())
    except OSError:
        pass
    return int(spark.read.parquet(f"{path}/meta").head()[0])


def ivfpq_probe(
    queries: DataFrame,
    path: str,
    k: int,
    nprobe: int = 4,
    shortlist: int = 100,
    m: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe a persisted IVF∘PQ index (``build_ivfpq_index``) — the
    same search body as ``ivfpq_knn``, reading the cells, codebooks,
    codes and vectors from the index files.

    The code scan joins the broadcast distance table of the probed
    cells on ``__cell`` — the partition column — among its keys, so
    Catalyst inserts a dynamic-partition-pruning filter and only nprobe/nlist of the code files are read
    (plan-tested); the shortlist re-rank then fetches just
    |queries|·shortlist full vectors by id."""
    spark = queries.sparkSession
    probes = _probe_cells(
        queries,
        _read_codebook(spark, f"{path}/centroids"),
        nprobe,
        id_col,
        vec_col,
        query_id_col,
    )
    return _adc_shortlist_rerank(
        read_parquet(spark, f"{path}/codes"),
        probes,
        _read_codebook(spark, f"{path}/books"),
        queries,
        read_parquet(spark, f"{path}/vectors"),
        k, shortlist, m, id_col, vec_col, query_id_col,
    )


def _seq_dot(a: list[float], b: list[float]) -> float:
    """Sequential left-to-right double dot — the same fold order as
    the JVM-side ``dot`` and DuckDB's list_dot_product, so driver-side
    greedy steps stay numerically aligned with both engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _mmr_greedy_one(
    cands: list[tuple[int, float, list[float]]],
    k: int,
    lam: float,
    mu: float,
    scale: float,
) -> list[tuple[int, int]]:
    """ONE query's greedy MMR selection → [(rank, picked_id)].

    This is the exact selection contract both the distributed
    (applyInPandas) and driver paths share — sequential-fold dots,
    ``floor(x·scale + 0.5)`` grain compare, smallest-id tie-break —
    so distributed-vs-driver parity is bit-identical by construction
    (tested in tests/test_round11_ops.py)."""

    def _grain(x: float) -> int:
        # half-up toward +inf on both engines (see caller docstring)
        return math.floor(x * scale + 0.5)

    vn: dict[int, list[float]] = {}
    rel: dict[int, float] = {}
    for cid, r, v in cands:
        nrm = math.sqrt(_seq_dot(v, v))
        if nrm == 0.0:
            continue  # cosine undefined — never a valid candidate
        vn[cid] = [x / nrm for x in v]
        rel[cid] = r
    # -inf, not 0: the oracle's max(sim-to-selected) is the true
    # max, which is negative when every pair-sim is negative
    max_div: dict[int, float] = {cid: float("-inf") for cid in rel}
    remaining = set(rel)
    out: list[tuple[int, int]] = []
    for rank in range(1, min(k, len(rel)) + 1):
        if rank == 1:
            key = lambda c: (_grain(rel[c]), -c)  # noqa: E731
        else:
            key = lambda c: (  # noqa: E731
                _grain(lam * rel[c] - mu * max_div[c]),
                -c,
            )
        pick = max(sorted(remaining), key=key)
        out.append((rank, pick))
        remaining.discard(pick)
        for c in remaining:
            s = _seq_dot(vn[c], vn[pick])
            if s > max_div[c]:
                max_div[c] = s
    return out


def mmr_diversified_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    shortlist: int = 40,
    lam: float = 0.7,
    mu: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    grain: int = 6,
    shortlist_df: DataFrame | None = None,
    distributed: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified top-k: greedily pick the candidate maximizing
    ``lam·rel(q,d) − (1−lam)·max_{s∈S} sim(d,s)`` over a cosine
    shortlist. The standard redundancy-suppression re-ranker for RAG
    retrieval and eval-set selection.

    Scale shape: the distributed work is the shortlist generation
    (exact ``brute_force_knn`` here; swap in the IVF/LSH tiers for a
    100 TB corpus) — the greedy phase is inherently sequential PER
    QUERY but embarrassingly parallel ACROSS queries, so it runs in
    ``applyInPandas`` grouped by query id (VERDICT r10 #1): each
    group is ≤ shortlist rows, no driver collect, and 10⁵+ probe
    queries spread over every executor instead of serializing on the
    driver. ``distributed=False`` keeps the old bounded driver-panel
    path — same ``_mmr_greedy_one`` selection code, used by the
    bit-identical parity test. Scores are compared at a 10^-grain
    grain with id tie-breaks so the selection sequence is
    reproducible across engines (random-embedding score gaps ≫ ulp;
    raw doubles are not emitted).

    Cross-engine determinism of the grain compare (ADVICE r8): the
    diversity weight is an EXPLICIT ``mu`` (defaults to ``1 - lam``;
    pass the same decimal literal the oracle states, e.g. 0.3, so
    the engine never scores with 0.30000000000000004 against an
    oracle scoring with 0.3), and grain rounding is
    ``floor(x·10^grain + 0.5)`` on BOTH engines — half-up toward
    +inf, identical for every float, where Python's ``round`` is
    banker's and DuckDB's is half-away-from-zero (they disagree
    exactly on the grain boundaries a near-tie can land on).

    ``shortlist_df`` swaps in a precomputed shortlist — (query_id,
    neighbor_id, sim) from any ANN tier (``ivf_knn``/``lsh_knn``) —
    in place of the exact brute-force tier: the 100 TB path, where
    the shortlist must come from an index scan rather than a full
    corpus pass. The greedy phase is identical either way.

    Zero-norm embeddings in the shortlist are SKIPPED (their cosine
    is undefined upstream — the exact tier scores them NaN and never
    ranks them; a raw injected shortlist could still carry one, and
    normalizing would raise ZeroDivisionError on the driver)."""
    spark = corpus.sparkSession
    if mu is None:
        mu = 1.0 - lam
    sl = (
        shortlist_df
        if shortlist_df is not None
        else brute_force_knn(
            corpus, queries, shortlist, id_col, vec_col, query_id_col
        )
    )
    with_vec = sl.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        ),
        "neighbor_id",
    ).select(query_id_col, "neighbor_id", "sim", "__v")

    scale = float(10**grain)
    out_schema = f"{query_id_col} bigint, rnk int, {id_col} bigint"

    if not distributed:
        # bounded driver-panel path (pre-r11 shape), kept for the
        # distributed-vs-driver parity test
        rows = with_vec.collect()
        by_q: dict[int, list[tuple[int, float, list[float]]]] = {}
        for r in rows:
            by_q.setdefault(r[query_id_col], []).append(
                (
                    r["neighbor_id"],
                    float(r["sim"]),
                    [float(x) for x in r["__v"]],
                )
            )
        out: list[tuple[int, int, int]] = []
        for qid in sorted(by_q):
            cands = sorted(by_q[qid])  # deterministic id order
            for rank, pick in _mmr_greedy_one(cands, k, lam, mu, scale):
                out.append((qid, rank, pick))
        return spark.createDataFrame(out, schema=out_schema)

    def _greedy_group(pdf):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        cands = sorted(  # deterministic id order
            (int(n), float(s), [float(x) for x in v])
            for n, s, v in zip(
                pdf["neighbor_id"], pdf["sim"], pdf["__v"]
            )
        )
        picks = _mmr_greedy_one(cands, k, lam, mu, scale)
        qid = int(pdf[query_id_col].iloc[0])
        return pd.DataFrame(
            {
                query_id_col: np.full(len(picks), qid, dtype="int64"),
                "rnk": np.array([r for r, _ in picks], dtype="int32"),
                id_col: np.array([p for _, p in picks], dtype="int64"),
            }
        )

    return with_vec.groupBy(query_id_col).applyInPandas(
        _greedy_group, out_schema
    )
