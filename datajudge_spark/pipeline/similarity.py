"""Similarity search over embedding columns (``array<float>``).

All distance math is JVM-side via SQL higher-order functions
(``zip_with`` + ``aggregate``) — vectorized whole-stage codegen, no
Python in the hot path.

Scale design:

- **Brute force** is the correctness baseline: |Q| x |C| pairs. Keep |Q|
  bounded (a broadcast side); Catalyst broadcasts the small query set so
  the scan over candidates stays embarrassingly parallel, one pass.
- **IVF** (inverted-file) is the scale path: candidates are partitioned
  into cells by nearest centroid (a tiny broadcast join against the
  centroid set), and each query probes only its own cell —
  a 1/num_cells fraction of the corpus per query. Recall is traded for
  that factor exactly as in FAISS-style IVF indexes.
- **Near-dup** pairs are *blocked* on an equality column (label, LSH
  bucket, IVF cell...) so the pair space is sum of per-block squares,
  never the global square.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datajudge_spark.pipeline._util import materialize_once, spread
from datajudge_spark.sources import read_parquet

__all__ = [
    "cosine",
    "topk_bruteforce",
    "ivf_cells",
    "topk_ivf",
    "near_dup_pairs",
    "kmeans_centroids",
    "pq_codebook",
    "pq_train",
    "pq_encode",
    "topk_pq",
    "topk_ivf_pq",
    "recall_at_k",
    "quantize_embeddings",
    "save_ivf_index",
    "load_ivf_index",
]


def _dot_sql(a: str, b: str) -> str:
    # one parsed SQL string instead of a py4j-built HOF tree: the lambda
    # Column API costs ~30-40 driver round-trips per call (measured),
    # the string costs one.  Same zip_with/aggregate fold, same
    # left-to-right double addition => bit-identical values.
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(`{a}`, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def _norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<float> columns (as double)."""
    return F.expr(
        f"({_dot_sql(a, b)}) / (({_norm_sql(a)}) * ({_norm_sql(b)}))"
    )


def topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
    c_vec: str = "cvec",
) -> DataFrame:
    """Exact top-k by cosine for every query: (qid, cid, cos, rn).

    Ties broken by candidate id for engine-independent determinism.
    """
    pairs = F.broadcast(queries).crossJoin(spread(candidates)).where(
        F.col(q_id) != F.col(c_id)
    )
    scored = pairs.select(q_id, c_id, cosine(q_vec, c_vec).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, c_id, F.round("cos", 6).alias("cos"), "rn")
    )


def ivf_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    v_id: str = "vid",
    v_vec: str = "vvec",
    cent_id: str = "cell",
    cent_vec: str = "centvec",
) -> DataFrame:
    """Assign every vector to its nearest centroid: (vid, cell).

    The centroid set is broadcast (it is small by construction), so the
    assignment is a map-only pass over the corpus; argmax ties break on
    the lowest centroid id.
    """
    scored = spread(vectors).crossJoin(F.broadcast(centroids)).select(
        v_id, cent_id, cosine(v_vec, cent_vec).alias("cos")
    )
    w = Window.partitionBy(v_id).orderBy(F.col("cos").desc(), F.col(cent_id).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(v_id, cent_id)
    )


def _query_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    q_id: str,
    q_vec: str,
) -> DataFrame:
    """(qid, cell) for each query's ``nprobe`` nearest cells — the probe
    set both IVF searches share.  ``nprobe=1`` is :func:`ivf_cells`;
    larger keeps top-nprobe rows of the same broadcast scoring."""
    if nprobe <= 1:
        return ivf_cells(queries, centroids, v_id=q_id, v_vec=q_vec)
    scored = spread(queries).crossJoin(F.broadcast(centroids)).select(
        q_id, "cell", cosine(q_vec, "centvec").alias("cos")
    )
    w = Window.partitionBy(q_id).orderBy(
        F.col("cos").desc(), F.col("cell").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select(q_id, "cell")
    )


def topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
    c_vec: str = "cvec",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-probed approximate top-k: each query searches only the
    candidates assigned to the query's ``nprobe`` nearest cells.

    Returns (qid, cid, cos, rn). Recall < 1 by design; the trade is a
    ~nprobe/num_cells scan fraction per query, and recall is monotone
    non-decreasing in ``nprobe`` (the candidate set only grows) — the
    standard FAISS-style recall/cost knob.
    """
    cand_cells = ivf_cells(
        candidates, centroids, v_id=c_id, v_vec=c_vec
    )
    query_cells = _query_cells(queries, centroids, nprobe, q_id, q_vec)
    blocked = (
        F.broadcast(queries.join(query_cells, q_id))
        .join(candidates.join(cand_cells, c_id), "cell")
        .where(F.col(q_id) != F.col(c_id))
    )
    scored = blocked.select(q_id, c_id, cosine(q_vec, c_vec).alias("cos"))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, c_id, F.round("cos", 6).alias("cos"), "rn")
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int,
    max_iterations: int = 10,
    tol: float = 1e-4,
    v_id: str = "vid",
    v_vec: str = "vvec",
) -> DataFrame:
    """Train IVF centroids with distributed spherical k-means (Lloyd's).

    The FAISS-style IVF recipe: cluster by cosine, centroid = L2-
    normalized mean of its members. Per iteration:

    - **assign** (distributed): nearest-centroid by cosine — a map-only
      pass over the corpus against the broadcast centroid set
      (:func:`ivf_cells`);
    - **update** (one shuffle): per-cell element-wise mean via ``dim``
      ``avg`` aggregates — map-side combine, so shuffle volume is
      O(cells x dim x partitions), independent of corpus size;
    - **driver step** (O(k x dim), tiny): normalize means, measure the
      max centroid shift, stop when below ``tol``.

    Centroids live on the driver between iterations (k x dim doubles —
    the textbook Lloyd's-on-Spark layout); the corpus is never
    collected. Initialization is deterministic: the k lowest-id vectors
    (stable across engines and runs). Empty cells keep their previous
    centroid. Returns (cell int, centvec array<double>) ready for
    :func:`topk_ivf` / :func:`ivf_cells`.
    """
    import math

    spark = vectors.sparkSession
    vectors = materialize_once(spread(vectors).select(v_id, v_vec))
    first = vectors.select(F.size(v_vec).alias("d")).first()
    if first is None:
        raise ValueError("cannot train centroids on an empty vector set")
    dim = first["d"]

    def _normalize(vec: list[float]) -> list[float]:
        norm = math.sqrt(sum(x * x for x in vec)) or 1.0
        return [x / norm for x in vec]

    seed_rows = vectors.orderBy(v_id).limit(k).select(v_vec).collect()
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(seed_rows)}")
    centroids = [_normalize([float(x) for x in r[0]]) for r in seed_rows]

    for _ in range(max_iterations):
        cent_df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "cell int, centvec array<double>",
        )
        assigned = ivf_cells(vectors, centroids=cent_df, v_id=v_id, v_vec=v_vec)
        means = (
            vectors.join(assigned, v_id)
            .groupBy("cell")
            .agg(*[F.avg(F.col(v_vec)[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new_centroids = list(centroids)
        for row in means:
            new_centroids[row["cell"]] = _normalize(
                [row[f"m{i}"] for i in range(dim)]
            )
        shift = max(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift < tol:
            break
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centvec array<double>",
    )


def near_dup_pairs(
    vectors: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    v_id: str = "vid",
    v_vec: str = "vvec",
) -> DataFrame:
    """(d1, d2, cos) pairs with cosine > threshold, blocked on an
    equality column so the join never goes globally quadratic.

    Norms are computed ONCE per (vector, block) row before the join,
    so the per-pair cost is a single dot fold instead of three O(dim)
    folds — value-identical (``dot / (n1 * n2)`` is the same
    expression grouping as ``cosine()``; measured ~3x on the sf3
    shard).  Within-block pair mass is still quadratic in block
    population by construction — brute force is the BASELINE/truth
    path; at corpus scale use :func:`near_dup_pairs_ivf` (cells
    scaled with the corpus) or SRP blocking, both measured against
    this truth by the recall harnesses."""
    vectors = spread(vectors)
    a = vectors.select(
        F.col(block_col).alias("_blk"),
        F.col(v_id).alias("d1"),
        F.col(v_vec).alias("_v1"),
        _norm(v_vec).alias("_n1"),
    )
    b = vectors.select(
        F.col(block_col).alias("_blk"),
        F.col(v_id).alias("d2"),
        F.col(v_vec).alias("_v2"),
        _norm(v_vec).alias("_n2"),
    )
    pairs = a.join(b, "_blk").where(F.col("d1") < F.col("d2"))
    cos = _dot("_v1", "_v2") / (F.col("_n1") * F.col("_n2"))
    return (
        pairs.select("d1", "d2", cos.alias("cos"))
        .where(F.col("cos") > threshold)
        .select("d1", "d2", F.round("cos", 6).alias("cos"))
    )


def near_dup_pairs_ivf(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
    v_id: str = "vid",
    v_vec: str = "vvec",
    n_salts: int = 8,
) -> DataFrame:
    """(d1, d2, cos) near-duplicate pairs blocked on IVF cells with
    multi-probe assignment — the high-dimensional alternative to
    SRP-signature blocking (:func:`near_dup_pairs` over
    :func:`srp_signature`).

    Each vector is assigned to its ``nprobe`` nearest centroids (the
    same broadcast scoring as :func:`topk_ivf`'s probe); only pairs
    sharing a cell are compared, and a pair sharing two cells collapses
    via DISTINCT on the rounded digest.  Why this beats SRP as dims
    grow: random-hyperplane bit agreement for a FIXED plane count decays
    toward coin-flipping in high dimensions, while IVF cells — trained
    with :func:`kmeans_centroids` in production (the contract query uses
    fixed seed vectors only for oracle determinism) — follow the actual
    data density, and ``nprobe`` recovers cell-boundary pairs the way
    multi-table LSH recovers band misses.

    100 TB path: centroids broadcast (map-only assignment), the pair
    join shuffles on cell id with per-cell population ~corpus/n_cells
    under trained centroids, and cosine is the JVM ``zip_with`` +
    ``aggregate`` fold — no Python.  Recall is measured, not trusted:
    pair it with the brute-force subset as in ``ivf_neardup_recall``.
    """
    cells = _query_cells(vectors, centroids, nprobe, v_id, v_vec)
    # norms computed ONCE per (vector, cell) row, not once per pair:
    # cosine's three O(dim) folds per pair collapse to one (the dot) —
    # a 3x cut of the dominating cost, value-identical since dot and
    # norm are the same left-to-right double folds over the same values
    tagged = vectors.join(cells, v_id).select(
        F.col("cell").alias("_blk"),
        F.col(v_id).alias("_id"),
        F.col(v_vec).alias("_v"),
        _norm(v_vec).alias("_n"),
    )
    # The cell id alone gives at most |cells| join partitions — a
    # handful of trained cells would leave most executors idle while
    # the per-cell pair work is the quadratic hot loop.  Salting fixes
    # the parallelism: side A hashes into n_salts subgroups, side B
    # replicates across all of them (the standard skew-join split),
    # so each cell's pair space spreads over n_salts tasks.  Pure
    # repartitioning of the same pair set — value-identical.
    a = tagged.select(
        F.col("_blk"),
        F.col("_id").alias("d1"),
        F.col("_v").alias("_v1"),
        F.col("_n").alias("_n1"),
        F.pmod(F.xxhash64("_id"), F.lit(n_salts)).cast("int").alias("_g"),
    )
    b = tagged.select(
        F.col("_blk"),
        F.col("_id").alias("d2"),
        F.col("_v").alias("_v2"),
        F.col("_n").alias("_n2"),
    ).withColumn(
        "_g", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    pairs = a.join(b, ["_blk", "_g"]).where(F.col("d1") < F.col("d2"))
    cos = _dot("_v1", "_v2") / (F.col("_n1") * F.col("_n2"))
    # the materialized RESULT is tiny (threshold already cut the
    # quadratic candidate space to the near-duplicate list) while the
    # pair join above is the expensive subtree — persisting here lets
    # every consumer of the same graph (degree counts, recall checks,
    # repeated audits in one session) reuse it through Spark's
    # plan-canonicalized cache instead of re-running the join
    return materialize_once(
        pairs.select("d1", "d2", cos.alias("cos"))
        .where(F.col("cos") > threshold)
        .select("d1", "d2", F.round("cos", 6).alias("cos"))
        .distinct()
    )


def density_core_points(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    min_neighbors: int = 3,
    nprobe: int = 2,
    v_id: str = "vid",
    v_vec: str = "vvec",
) -> DataFrame:
    """DBSCAN-style density classification of an embedding corpus:
    ``(vid, n_neighbors, is_core)`` where a vector's neighbors are the
    cell-blocked cosine matches above ``threshold``
    (:func:`near_dup_pairs_ivf`) and core points have at least
    ``min_neighbors`` of them.

    The density-dedup primitive: near-duplicate CLUSTERS keep one core
    representative, isolated points (n=0) pass through untouched, and
    border points (0 < n < min_neighbors) are the review set.  The
    neighbor graph inherits the IVF blocking's measured-recall tradeoff
    (`ivf_neardup_recall`) — counts are a lower bound, biased the safe
    direction for dedup (a missed edge keeps a document, never drops
    one).

    Scale: the pair space is the salted cell-blocked join (never
    all-pairs), degree counting is one groupBy over the pair list, and
    the final LEFT join back to the id projection shuffles ids only.
    """
    pairs = near_dup_pairs_ivf(
        vectors, centroids, threshold, nprobe, v_id, v_vec
    )
    # each pair feeds BOTH endpoints' degrees via one explode — a
    # unionAll of two projections would execute the expensive salted
    # pair-join subtree twice (Catalyst does not dedupe shared subtrees)
    deg = (
        pairs.select(
            F.explode(F.array(F.col("d1"), F.col("d2"))).alias("_nid")
        )
        .groupBy("_nid")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        vectors.select(F.col(v_id))
        .join(deg, F.col(v_id) == F.col("_nid"), "left_outer")
        .select(
            F.col(v_id),
            F.coalesce(F.col("__n"), F.lit(0))
            .cast("bigint")
            .alias("n_neighbors"),
            (
                F.coalesce(F.col("__n"), F.lit(0)) >= min_neighbors
            ).alias("is_core"),
        )
    )


def pq_codebook(
    vectors: DataFrame,
    n_codes: int = 16,
    v_id: str = "vid",
    v_vec: str = "vvec",
) -> list[list[float]]:
    """Deterministic PQ codebook: the ``n_codes`` lowest-id vectors,
    as driver-held lists (n_codes x dim doubles — the FAISS layout,
    where codebooks are broadcast constants, never a joined relation).

    Deterministic-by-id seeding keeps the codebook engine-reproducible
    (an oracle can reconstruct it relationally); production swaps this
    for :func:`pq_train`'s per-subspace k-means without touching
    encode/search.
    """
    rows = (
        spread(vectors)
        .orderBy(v_id)
        .limit(n_codes)
        .select(v_vec)
        .collect()
    )
    if len(rows) < n_codes:
        raise ValueError(f"need >= {n_codes} vectors for the codebook")
    return [[float(x) for x in r[0]] for r in rows]


def pq_train(
    vectors: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    max_iterations: int = 8,
    tol: float = 1e-4,
    v_id: str = "vid",
    v_vec: str = "vvec",
    with_assignments: bool = False,
) -> list[list[float]]:
    """Train per-subspace PQ codebooks (Lloyd's k-means per subspace,
    all ``m`` subspaces per iteration in ONE pass) — the FAISS PQ
    training recipe.  Returns the same ``n_codes x dim`` driver-held
    layout as :func:`pq_codebook` (entry c's slice for subspace s is
    sub-centroid (s, c)), so it drops into :func:`pq_encode` /
    :func:`topk_pq` / :func:`topk_ivf_pq` unchanged.

    Per iteration:

    - **assign**: :func:`pq_encode` against the current codebook — one
      map-only pass computing all m nearest sub-codes per vector;
    - **update** (one shuffle): per (subspace, code, component) means
      via a double ``posexplode`` (n·dim rows in flight, map-side
      combined down to ``dim x n_codes`` aggregate rows);
    - **driver step** (O(n_codes x dim), tiny): rebuild the codebook,
      measure the max centroid shift, stop under ``tol``.  Empty codes
      keep their previous entry.

    Initialization is the deterministic :func:`pq_codebook` (lowest-id
    vectors), so training is reproducible run-to-run.  At corpus scale
    train on a bounded sample (PQ codebooks need ~100k vectors, not the
    corpus) and encode everything with the result.

    ``with_assignments=True`` returns ``(codebook, encoded_df)`` where
    ``encoded_df`` is ``(v_id, codes)`` against the TRAINED codebook,
    computed on the frame this function already cached — the natural
    k-means "final assignments" output.  A separate
    ``pq_encode(vectors, trained_cb)`` produces identical codes (same
    expression over the same rows) but re-scans the source, repartitions
    it again, and re-analyzes the codebook-literal plan across extra
    adaptive stage rounds (measured 0.70 s vs 0.27 s for the cached
    pass at sf0.1).
    """
    import math

    vecs = materialize_once(spread(vectors).select(v_id, v_vec))
    # the seed codebook's collected vectors already carry the dimension:
    # deriving dim from them saves a dedicated first() job per call
    codebook = pq_codebook(vecs, n_codes, v_id=v_id, v_vec=v_vec)
    dim = len(codebook[0])
    if dim % m:
        raise ValueError(f"m ({m}) must divide dim ({dim})")
    ds = dim // m
    sub_structs = F.expr(
        f"transform(sequence(0, {m - 1}), s -> struct("
        f"element_at(codes, s + 1) AS c, "
        f"slice({v_vec}, s * {ds} + 1, {ds}) AS sv))"
    )
    for _ in range(max_iterations):
        # assign codes INLINE on the cached frame: pq_encode() derives
        # codes from the very same rows, so re-attaching them via
        # vecs.join(enc, v_id) paid a full self-join shuffle of the
        # corpus per iteration (plus pq_encode's spread() repartition)
        # for data that one map-only projection produces for free.
        # Identical codes expression => identical means => identical
        # trained codebook.
        codes_sql = (
            "transform("
            + _pq_dists_sql(v_vec, codebook, m)
            + ", a -> CAST(array_position(a, array_min(a)) - 1 AS INT))"
        )
        joined = vecs.select(
            F.col(v_vec), F.expr(codes_sql).alias("codes")
        )
        comp = joined.select(
            F.posexplode(sub_structs).alias("s", "sc")
        ).select(
            "s",
            F.col("sc.c").alias("c"),
            F.posexplode("sc.sv").alias("i", "x"),
        )
        means = (
            comp.groupBy("s", "c", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("mu"))
            .collect()
        )
        new_codebook = [list(entry) for entry in codebook]
        for r in means:
            new_codebook[r["c"]][r["s"] * ds + r["i"]] = float(r["mu"])
        shift = max(
            (
                math.sqrt(
                    sum((a - b) ** 2 for a, b in zip(old, new))
                )
                for old, new in zip(codebook, new_codebook)
            ),
            default=0.0,
        )
        codebook = new_codebook
        if shift < tol:
            break
    if with_assignments:
        final_codes_sql = (
            "transform("
            + _pq_dists_sql(v_vec, codebook, m)
            + ", a -> CAST(array_position(a, array_min(a)) - 1 AS INT))"
        )
        enc = vecs.select(
            F.col(v_id), F.expr(final_codes_sql).alias("codes")
        )
        return codebook, enc
    return codebook


def _codebook_sliced_sql_literal(
    codebook: list[list[float]], m: int
) -> str:
    """The codebook pre-sliced by subspace as ONE SQL literal:
    ``out[s][c] = codebook[c][s*ds : (s+1)*ds]`` (m x n_codes x ds).

    Built as a SQL string on purpose: constructing the equivalent
    expression tree through the Python column API costs thousands of
    py4j round-trips (~9 s of pure plan-BUILD time measured for a
    16x64 codebook), while a 40 KB SQL literal parses JVM-side in
    milliseconds.  Pre-slicing in Python (exact — the values are
    unchanged doubles) means the per-row expression never re-slices
    the codebook: the old form allocated a fresh slice of the literal
    for every (subspace, code) pair on every row."""
    from ..operators.stats import _sql_double_lit

    ds = len(codebook[0]) // m
    # bare D-suffixed double literals: half the analyzer nodes of the
    # old per-element CAST form (measured 327 -> 103 ms per analysis of
    # this 1024-double literal; pq_train re-analyzes it once per Lloyd
    # pass), identical parsed values
    return (
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                "array("
                + ", ".join(
                    _sql_double_lit(float(e[s * ds + i]))
                    for i in range(ds)
                )
                + ")"
                for e in codebook
            )
            + ")"
            for s in range(m)
        )
        + ")"
    )


def _pq_dists_sql(
    vec_col: str, codebook: list[list[float]], m: int
) -> str:
    """m x n_codes sub-distance table as one nested-HOF SQL expression:
    ``out[s][c] = Σ (x_i - e_i)²`` over subspace s's slice — the same
    left-to-right (x-y)*(x-y) fold as the element-wise form, so doubles
    are bit-identical to any engine repeating it.

    Shaped for interpreted-HOF cost (HOFs never reach codegen): the
    vector is sliced and widened to double ONCE per subspace (float →
    double widening is exact), the codebook ships pre-sliced so no
    per-(s, c) slice allocations happen per row, and the inner loop is
    an index fold over ``sequence(1, ds)`` instead of a zip_with that
    allocated an intermediate array per (s, c).  Same values in the
    same left-to-right fold order ⇒ bit-identical doubles (verified
    old-vs-new over the full sf0.1 embedding set)."""
    dim = len(codebook[0])
    ds = dim // m
    cb2 = _codebook_sliced_sql_literal(codebook, m)
    return (
        f"zip_with("
        f"transform(sequence(0, {m - 1}), s -> "
        f"transform(slice({vec_col}, s * {ds} + 1, {ds}), "
        f"x -> CAST(x AS DOUBLE))), "
        f"{cb2}, "
        f"(sv, scb) -> transform(scb, ce -> "
        f"aggregate(sequence(1, {ds}), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + (element_at(sv, i) - element_at(ce, i)) "
        f"* (element_at(sv, i) - element_at(ce, i)))))"
    )


def pq_encode(
    df: DataFrame,
    codebook: list[list[float]],
    m: int = 8,
    id_col: str = "vid",
    vec_col: str = "vvec",
) -> DataFrame:
    """Product-quantization encode: (id, codes array<int>) — each vector
    split into ``m`` subvectors, each mapped to its nearest (L2)
    codebook entry's SLICE for that subspace.

    Map-only: per row, m x n_codes folds (= n_codes x dim multiply-adds
    — the classic PQ encode cost), no shuffle, no UDF; the whole
    distance table is one nested higher-order-function expression over a
    single codebook literal.  Ties take the lowest code
    (``array_position`` returns the first minimum).  At 100 TB this is
    the pass that turns 4·dim bytes/vector into m bytes — the
    storage/serving shape for billion-scale ANN.
    """
    dim = len(codebook[0])
    if dim % m:
        raise ValueError(f"m ({m}) must divide dim ({dim})")
    with_dists = spread(df).select(
        F.col(id_col),
        F.expr(_pq_dists_sql(vec_col, codebook, m)).alias("__d"),
    )
    return with_dists.select(
        id_col,
        F.expr(
            "transform(__d, a -> "
            "CAST(array_position(a, array_min(a)) - 1 AS INT))"
        ).alias("codes"),
    )


def _adc_dist(m: int) -> Column:
    """The ADC score both PQ searches share: fold the candidate's m
    codes through the broadcast per-query LUT column ``__lut`` —
    subspace-ordered left-to-right, so the double sum is
    engine-portable."""
    return F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE), "
        "(acc, s) -> acc + element_at(element_at(__lut, s + 1), "
        "element_at(codes, s + 1) + 1))"
    )


def topk_pq(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: list[list[float]],
    m: int = 8,
    k: int = 5,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes:
    ``dist(q, c) ≈ Σ_s LUT_q[s][codes_c[s]]`` with
    ``LUT_q[s][c] = l2²(q_sub_s, codebook_entry_c_sub_s)``.

    Returns (qid, cid, dist, rn) ascending by approximate distance, ties
    by candidate id.  The per-query LUT (m x n_codes doubles) is built
    as a nested array column in the same map pass that broadcasts the
    queries — so scoring a candidate costs m array lookups + a fixed
    left-to-right m-fold (engine-portable double addition), instead of
    dim multiplies: the standard PQ speed/recall trade.  One shuffle
    total (the per-query top-k window).
    """
    q_with_lut = spread(queries).select(
        q_id, F.expr(_pq_dists_sql(q_vec, codebook, m)).alias("__lut")
    )
    scored = F.broadcast(q_with_lut).crossJoin(encoded).where(
        F.col(q_id) != F.col(c_id)
    )
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc(), F.col(c_id).asc())
    return (
        scored.select(q_id, c_id, _adc_dist(m).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, c_id, F.round("dist", 6).alias("dist"), "rn")
    )


def topk_ivf_pq(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    codebook: list[list[float]],
    m: int = 8,
    k: int = 3,
    q_id: str = "qid",
    q_vec: str = "qvec",
    c_id: str = "cid",
    c_vec: str = "cvec",
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ composite ANN — the FAISS ``IndexIVFPQ`` serving shape:
    coarse quantizer (IVF cells) prunes the corpus to the query's
    ``nprobe`` cells, then PQ asymmetric-distance (ADC) ranks only the
    surviving candidates.

    Returns (qid, cid, dist, rn) ascending by approximate distance.
    Plan: cell assignment and PQ encode are both map-only passes over
    the corpus against broadcast constants (centroids / codebook); they
    join on the candidate id — both sides hash-partition on it, one
    shuffle each; the per-query LUT travels with the broadcast query
    side; the only other shuffle is the per-query top-k window.  At
    billion scale the encoded corpus (m bytes/vector + a cell id) is
    the *stored* index — this pipeline is exactly the build+search
    split FAISS persists.

    Extension — no reference counterpart; composes :func:`topk_ivf`'s
    cell pruning with :func:`topk_pq`'s ADC scoring.
    """
    cand_cells = ivf_cells(candidates, centroids, v_id=c_id, v_vec=c_vec)
    encoded = pq_encode(candidates, codebook, m=m, id_col=c_id, vec_col=c_vec)
    cand = encoded.join(cand_cells, c_id)
    query_cells = _query_cells(queries, centroids, nprobe, q_id, q_vec)
    q_with_lut = spread(queries).select(
        q_id, F.expr(_pq_dists_sql(q_vec, codebook, m)).alias("__lut")
    )
    blocked = (
        F.broadcast(q_with_lut.join(query_cells, q_id))
        .join(cand, "cell")
        .where(F.col(q_id) != F.col(c_id))
    )
    w = Window.partitionBy(q_id).orderBy(F.col("dist").asc(), F.col(c_id).asc())
    return (
        blocked.select(q_id, c_id, _adc_dist(m).alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(q_id, c_id, F.round("dist", 6).alias("dist"), "rn")
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    q_id: str = "qid",
    c_id: str = "cid",
) -> DataFrame:
    """Per-query recall@k of an approximate ANN result against exact
    ground truth: ``(qid, n_exact, n_hits, recall)``.

    Both inputs are (qid, cid, ..., rn) frames as returned by the
    ``topk_*`` searches; rows beyond rank ``k`` are ignored on both
    sides.  The quality gate every IVF/PQ deployment needs: measure
    recall on a bounded query sample before trusting the index.  Plan:
    two already-small top-k frames, one equi-join on (qid, cid), one
    count per query — negligible next to either search.

    Extension — no reference counterpart; the eval harness for
    :func:`topk_ivf` / :func:`topk_pq` / :func:`topk_ivf_pq`.
    """
    a = approx.where(F.col("rn") <= k).select(q_id, c_id)
    e = exact.where(F.col("rn") <= k).select(q_id, c_id)
    hits = e.join(a, [q_id, c_id]).groupBy(q_id).agg(
        F.count(F.lit(1)).alias("__hits")
    )
    base = e.groupBy(q_id).agg(F.count(F.lit(1)).alias("__exact"))
    return base.join(hits, q_id, "left").select(
        q_id,
        F.col("__exact").cast("bigint").alias("n_exact"),
        F.coalesce(F.col("__hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(
            F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
            / F.col("__exact").cast("double"),
            6,
        ).alias("recall"),
    )


def quantize_embeddings(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric int8 quantization of L2-normalized embeddings.

    (id, dim, l2_norm, q_checksum): each vector is normalized to unit
    length, each component mapped to ``floor(127 * x / ||v|| + 0.5)``
    (integer in [-127, 127]; ``floor(x + 0.5)`` instead of ``round``
    because round's half-even/half-up convention differs across engines
    while floor is exact IEEE in all of them). The returned checksum is
    ``sum (i+1) * q_i`` — an exact integer fingerprint of the quantized
    vector, so the oracle verifies every component without shipping the
    arrays anywhere.

    This is the storage/serving shape for ANN at scale: 4 bytes/dim
    float32 -> 1 byte/dim int8 (plus one scale per vector) with the
    distance ranking preserved to quantization error. Map-only — no
    shuffle, no UDF; the quantized corpus is written, not collected.

    Zero vectors (||v|| = 0) quantize to all-zero components.
    """
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    df = df.select(F.col(id_col), v.alias("__dj_v"), norm.alias("__dj_norm"))
    q = F.transform(
        F.col("__dj_v"),
        lambda x, i: F.when(F.col("__dj_norm") == 0.0, F.lit(0).cast("bigint")).otherwise(
            F.floor(F.lit(127.0) * x.cast("double") / F.col("__dj_norm") + F.lit(0.5))
        ),
    )
    checksum = F.aggregate(
        F.zip_with(
            q,
            F.sequence(F.lit(1), F.size(F.col("__dj_v"))),
            lambda qi, idx: qi * idx.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return df.select(
        id_col,
        F.size(F.col("__dj_v")).cast("bigint").alias("dim"),
        F.round(F.col("__dj_norm"), 6).alias("l2_norm"),
        checksum.alias("q_checksum"),
    )


def save_ivf_index(centroids: DataFrame, path: str) -> None:
    """Persist a trained centroid table (the whole IVF "index").

    An IVF index IS its centroid set — cell assignment is recomputed as
    a broadcast map-only pass at query time, so persisting k rows makes
    the index re-usable across jobs without re-training. One parquet
    file: the table is k rows by construction.
    """
    centroids.coalesce(1).write.mode("overwrite").parquet(path)


def load_ivf_index(spark, path: str) -> DataFrame:
    """Load centroids saved by :func:`save_ivf_index` (k-row DataFrame,
    broadcast-sized — feed straight to :func:`topk_ivf`/:func:`ivf_cells`)."""
    return read_parquet(spark, path)


def norm_stats(
    df: DataFrame,
    vec_col: str,
    group_col: str | None = None,
    lo: float = 0.9,
    hi: float = 1.1,
) -> DataFrame:
    """Per-group L2-norm statistics for an embedding column: row count,
    mean/min/max norm, and the fraction inside [lo, hi] (a "are these
    normalized?" health check before cosine-based dedup/ANN).

    Cross-engine determinism: the per-row norm is the same left-to-right
    double fold the cosine ops use, ROUNDED to 6dp (deterministic per
    row), and the mean comes from an exact decimal sum of those rounded
    norms — a double sum over rows would depend on partition order.

    Scale: map-only per-row fold + one partial-agg'd shuffle on the
    group key; no UDF, no second pass.
    """
    nr = F.round(_norm(vec_col), 6)
    keys = [group_col] if group_col else []
    base = df.select(*keys, nr.alias("__nrm"))
    dec = F.col("__nrm").cast("decimal(18,6)")
    n = F.count(F.lit(1))
    agg = base.groupBy(*keys).agg(
        n.alias("n_vecs"),
        # decimal-exact sum, then ONE double division (q_mean convention:
        # decimal/decimal division scale rules differ per engine); the
        # n>0 guard keeps the global-agg-on-empty-input path NULL instead
        # of an ANSI divide-by-zero
        F.when(
            n > 0, F.round(F.sum(dec).cast("double") / n, 6)
        ).alias("avg_norm"),
        F.min("__nrm").alias("min_norm"),
        F.max("__nrm").alias("max_norm"),
        F.when(
            n > 0,
            F.round(
                F.count(
                    F.when((F.col("__nrm") >= lo) & (F.col("__nrm") <= hi), 1)
                ).cast("double")
                / n,
                6,
            ),
        ).alias("frac_unit"),
    )
    return agg


def srp_planes(dim: int, n_planes: int, seed: str = "srp") -> list[list[float]]:
    """Deterministic Rademacher (+/-1) hyperplanes for signed random
    projection, derived from md5(seed:plane:dim) — reproducible in ANY
    engine that can embed a literal array, with no RNG state."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def srp_signature(
    vec_col: str, planes: list[list[float]]
) -> Column:
    """SRP signature as an integer: bit i set iff dot(vec, plane_i) > 0.

    Same left-to-right double fold as the cosine ops, so the sign (and
    hence the bucket) is engine-independent.  SRP buckets approximate
    cosine neighborhoods: P(bit differs) = angle/pi, so bucket counts
    give a cheap corpus-geometry fingerprint, and the buckets themselves
    are an LSH partitioning for cosine ANN at 100 TB (shuffle on the
    signature, compare within buckets only).
    """
    # ONE parsed SQL string instead of per-component F.lit Columns:
    # the old build cost ~4 py4j round-trips per plane component
    # (~3k for 6 planes x 64 dims, the whole srp_* plan-build time).
    # Same zip_with/aggregate fold, same left-to-right order => the
    # dot's doubles (and hence every sign) are bit-identical.
    from ..operators.stats import _sql_double_lit

    terms = ["CAST(0 AS BIGINT)"]
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(_sql_double_lit(s) for s in plane) + ")"
        dot = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, s) -> CAST(x AS DOUBLE) * s), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {dot} > CAST(0.0 AS DOUBLE) "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return F.expr(" + ".join(terms))


def srp_signature_hist(
    df: DataFrame,
    vec_col: str,
    n_planes: int = 6,
    seed: str = "srp",
    dim: int | None = None,
) -> DataFrame:
    """Histogram of SRP signatures over the corpus: ``(sig, n_vecs)``.
    One map-only pass + a partial-agg'd shuffle on <= 2^n_planes keys.
    Pass ``dim`` when known to avoid the 1-row schema probe."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = srp_planes(dim, n_planes, seed)
    return (
        df.select(srp_signature(vec_col, planes).alias("sig"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def group_centroids(
    df: DataFrame, vec_col: str, group_col: str
) -> DataFrame:
    """Per-group centroid of an embedding column, long-form: one row per
    (group, component) with the component mean — the shape IVF training
    consumes and monitoring dashboards plot.

    Cross-engine determinism (norm_stats convention): each component is
    rounded to 6dp per row, summed as an exact DECIMAL (partition-order
    independent — a double sum is not), and divided once at the end.

    Scale: posexplode is a map-only 1:dim row expansion of already-read
    data; the single shuffle is the (group, component) partial agg —
    |groups|·dim result rows, never a collect of vectors.
    """
    parts = df.where(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    dec = F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")
    return (
        parts.groupBy("grp", (F.col("pos") + 1).alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec).alias("__s"),
        )
        .select(
            "grp",
            "component",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("__s").cast("double") / F.col("n").cast("double"), 6
            ).alias("mean"),
        )
    )


def covariance_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    components: int | None = None,
    _scale: int = 1_000_000,
) -> DataFrame:
    """Upper-triangular covariance of embedding components, long-form
    (comp_i, comp_j, n, cov) — the input PCA and whitening consume.

    Cross-engine exactness: components are rounded to 6dp and scaled to
    integers, so every sufficient statistic (Σx, Σy, Σxy) is a
    DECIMAL(38,0)-exact integer sum — partition-order independent,
    unlike float co-moment folds.  ``cov = (n·Σxy - Σx·Σy) / n²``
    (population covariance) with one double expression at the end.

    Scale: posexplode is a map-only 1:k expansion; the pair build is a
    SELF-join co-partitioned on the row id, emitting k(k+1)/2 rows per
    input row, then partial-aggregated — n·k² work, the same asymptotic
    cost as any dense covariance (MLlib RowMatrix), with no UDF and no
    vector ever collected.  Restrict ``components`` for wide vectors.
    """
    parts = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    xi = F.round(
        F.round(F.col("x").cast("double"), 6) * _scale, 0
    ).cast("long")
    parts = parts.select(
        "__id", (F.col("pos") + 1).alias("comp"), xi.alias("xi")
    )
    if components is not None:
        parts = parts.where(F.col("comp") <= components)
    a = parts.select("__id", F.col("comp").alias("ci"), F.col("xi").alias("vx"))
    b = parts.select("__id", F.col("comp").alias("cj"), F.col("xi").alias("vy"))
    pairs = a.join(b, "__id").where(F.col("ci") <= F.col("cj"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pairs.groupBy("ci", "cj").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("vx"))).alias("sx"),
        F.sum(dec(F.col("vy"))).alias("sy"),
        F.sum(dec(F.col("vx")) * dec(F.col("vy"))).alias("sxy"),
    )
    n = F.col("n")
    cov = (
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (n * n).cast("double")
        / float(_scale) ** 2
    )
    return agg.select(
        F.col("ci").alias("comp_i"),
        F.col("cj").alias("comp_j"),
        n.cast("bigint").alias("n"),
        cov.alias("cov"),
    )


def pca_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    components: int | None = None,
) -> list:
    """Top-``k`` principal components of the embedding column: returns
    ``[(eigenvalue, [loadings...]), ...]`` sorted by descending
    eigenvalue.

    The covariance aggregation runs entirely in-engine
    (:func:`covariance_matrix` — n·d² distributed work); only the d×d
    matrix (k²·16 bytes, never row data) crosses to the driver for the
    numpy eigendecomposition — the same small-side escape hatch as
    k-means centroids and the ≤2M-edge graph paths.  Sign convention:
    each eigenvector's largest-magnitude loading is made positive, so
    results are deterministic across LAPACK builds.
    """
    import numpy as np

    rows = covariance_matrix(df, id_col, vec_col, components).collect()
    if not rows:
        raise ValueError("pca needs at least one non-null vector")
    d = max(r["comp_j"] for r in rows)
    cov = np.zeros((d, d))
    for r in rows:
        i, j = r["comp_i"] - 1, r["comp_j"] - 1
        cov[i, j] = cov[j, i] = r["cov"]
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    out = []
    for idx in order:
        v = vecs[:, idx]
        pivot = np.argmax(np.abs(v))
        if v[pivot] < 0:
            v = -v
        out.append((float(vals[idx]), [float(c) for c in v]))
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings — the standard
    hybrid-search combiner (lexical BM25 + dense ANN, or any mix):
    ``score(d) = Σ_i 1/(rrf_k + rank_i(d))``, items missing from a
    ranking contribute 0 for it.

    Each input frame carries ``(id_col, rank_col)`` with 1-based ranks.
    Returns the fused top-``k`` as ``(id_col, rrf, rank_0..rank_{N-1})``
    ordered by (rrf DESC, id ASC) — the ROUNDED 6dp score is what's
    ranked, so ordering is engine-portable; rank columns are NULL where
    a source didn't retrieve the item.

    Scale: ranked lists are top-n outputs of the heavy retrieval ops,
    so every frame here is bounded (n rows per source); the fusion is
    |union of lists| rows of full-outer joins + one fixed N-term scalar
    expression — driver-free, shuffle-trivial, and the final cut is
    TakeOrderedAndProject.  rrf_k=60 is the constant from the original
    RRF paper (Cormack et al., SIGIR 2009).
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    out = None
    for i, r in enumerate(rankings):
        rr = r.select(F.col(id_col), F.col(rank_col).alias(f"rank_{i}"))
        out = rr if out is None else out.join(rr, id_col, "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return (
        out.select(
            id_col,
            F.round(score, 6).alias("rrf"),
            *[f"rank_{i}" for i in range(len(rankings))],
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    id_col: str = "id",
    vec_col: str = "vec",
    rel_col: str = "rel",
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank of a BOUNDED candidate list:
    greedily pick the item maximizing ``lam·rel − (1−lam)·max_cos`` to
    the already-selected set (Carbonell & Goldstein, SIGIR 1998) — the
    standard diversified top-k after retrieval, so three paraphrases of
    one document don't fill the whole result page.

    Returns ``(id_col, mmr_rank, mmr_score, rel_col)`` for the first
    ``k`` picks; ties break on the smaller id (deterministic).

    Placement, deliberately: MMR is sequential (pick t depends on picks
    1..t−1), so it runs on the DRIVER over the collected candidate
    digest.  That is the scale-correct design, not a concession — the
    input is a retrieval top-n (``topk_*``/``bm25_topk``/``rrf_fuse``
    output), bounded by construction; ``max_candidates`` guards against
    accidentally feeding a corpus-sized frame, which would belong in
    the blocked-pair ops instead.
    """
    import math

    rows = candidates.select(id_col, vec_col, rel_col).collect()
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank got {len(rows)} candidates (> {max_candidates}); "
            "rerank a bounded retrieval top-n, not a corpus-sized frame."
        )
    spark = candidates.sparkSession
    if not rows:
        return spark.createDataFrame(
            [], f"{id_col} long, mmr_rank int, mmr_score double, "
            f"{rel_col} double"
        )
    vecs = {r[0]: [float(x) for x in r[1]] for r in rows}
    rel = {r[0]: float(r[2]) for r in rows}
    norms = {
        i: (math.sqrt(sum(x * x for x in v)) or 1.0)
        for i, v in vecs.items()
    }

    def cos(a, b):
        return sum(x * y for x, y in zip(vecs[a], vecs[b])) / (
            norms[a] * norms[b]
        )

    selected: list = []
    out = []
    remaining = sorted(vecs)
    while remaining and len(selected) < k:
        best_id, best_score = None, None
        for i in remaining:
            maxsim = max((cos(i, s) for s in selected), default=0.0)
            score = lam * rel[i] - (1.0 - lam) * maxsim
            if best_score is None or score > best_score:
                best_id, best_score = i, score
        selected.append(best_id)
        remaining.remove(best_id)
        out.append(
            (best_id, len(selected), round(best_score, 6), rel[best_id])
        )
    return spark.createDataFrame(
        out,
        f"{id_col} long, mmr_rank int, mmr_score double, {rel_col} double",
    )


def centroid_shift(
    df: DataFrame, vec_col: str, group_col: str
) -> DataFrame:
    """Pairwise centroid displacement between embedding groups
    (sources, labels, snapshots): one row per unordered group pair
    ``(grp_a, grp_b, n_a, n_b, mmd2, dist)`` where ``mmd2 =
    ||c_a − c_b||²`` — exactly the squared LINEAR-kernel Maximum Mean
    Discrepancy, the first-order answer to "did this source's
    embedding distribution move?" (a mean shift is what breaks
    cosine-threshold dedup and ANN recall first; higher-order drift
    belongs to :func:`covariance_matrix`).

    Determinism: per-(group, component) sums follow the
    :func:`group_centroids` convention (6dp-rounded components summed
    as exact DECIMAL, ONE double division), the squared-difference fold
    runs as a component-ORDERED cumulative window per pair (bounded:
    |pairs|·dim rows), so the digest is bit-identical on every engine
    and partitioning.

    Plan: one posexplode scan + one (group, component) partial agg —
    the only fact-sized work; the pair join and window run on the
    |groups|·dim frame (tiny by construction).  Extension — no
    reference counterpart.
    """
    parts = df.where(F.col(vec_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    dec = F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)")
    per = parts.groupBy("grp", (F.col("pos") + 1).alias("component")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    a = per.select(
        F.col("grp").alias("grp_a"),
        "component",
        F.col("n").alias("__na"),
        mean.alias("__ma"),
    )
    b = per.select(
        F.col("grp").alias("grp_b"),
        F.col("component").alias("__cb"),
        F.col("n").alias("__nb"),
        mean.alias("__mb"),
    )
    paired = a.join(
        b,
        (F.col("component") == F.col("__cb"))
        & (F.col("grp_a") < F.col("grp_b")),
    )
    w_cum = Window.partitionBy("grp_a", "grp_b").orderBy("component")
    diff = F.col("__ma") - F.col("__mb")
    cum = paired.select(
        "grp_a",
        "grp_b",
        "component",
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.sum(diff * diff).over(
            w_cum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__mmd2"),
        F.row_number().over(
            Window.partitionBy("grp_a", "grp_b").orderBy(
                F.desc("component")
            )
        ).alias("__rn"),
    )
    return (
        cum.where(F.col("__rn") == 1)
        .select(
            "grp_a",
            "grp_b",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(F.col("__mmd2"), 6).alias("mmd2"),
            F.round(F.sqrt(F.col("__mmd2")), 6).alias("dist"),
        )
        .orderBy("grp_a", "grp_b")
    )
