"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; LSH (random-hyperplane)
bucketing is the 100 TB path — candidates are pruned by bucket before any
dot product is computed, so the cross product never materializes.

Determinism: dot products and norms are summed in DECIMAL after casting
both operands to double (float→double is exact; double products are
IEEE-deterministic; decimal addition is order-independent).  Results are
bit-identical across partitionings and match an external oracle computing
the same way — see functions.dsum for the rationale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalligraph_spark.functions import round12

_PROD_DEC = "decimal(28,18)"


def _decimal_dot(a, b):
    """Order-independent Σ a_i*b_i via per-term decimal rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_PROD_DEC)),
        F.lit(0).cast(_PROD_DEC),
        lambda acc, v: (acc + v).cast(_PROD_DEC),
    ).cast("double")


def _decimal_norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: (x.cast("double") * x.cast("double")).cast(_PROD_DEC)),
        F.lit(0).cast(_PROD_DEC),
        lambda acc, v: (acc + v).cast(_PROD_DEC),
    ).cast("double")


def _double_dot(a, b):
    """Plain-double Σ a_i*b_i.  Per-row array aggregation evaluates in array
    order on one executor — deterministic without decimal (decimal is only
    required when an ORACLE recomputes the sum in a different order, as
    DuckDB's unnest-SUM does for the brute-force baseline)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _double_norm2(a):
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def brute_force_cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one vector.

    The query row broadcasts (1 row); similarity computes fully JVM-side
    with higher-order functions — no shuffle, no UDF, one pass over the
    table, then a k-row sort.  Ties break on id for determinism.
    """
    q = embeddings.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__q"), _decimal_norm2(F.col(vec_col)).alias("__qn")
    )
    # round to 12 decimals: the decimal-summed operands are identical
    # across engines, but sqrt/divide chains can still differ in the last
    # ulp; 1e-12 granularity erases that while keeping full ranking power
    sim = round12(
        _decimal_dot(F.col(vec_col), F.col("__q"))
        / (F.sqrt(F.col("__qn")) * F.sqrt(_decimal_norm2(F.col(vec_col))))
    ).alias("cosine")
    return (
        embeddings.where(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim)
        .orderBy(F.col("cosine").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def exact_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for a SET of query ids — the multi-query ground
    truth an ANN recall measurement compares against
    (:func:`ann_recall_at_k`).  ``queries`` is a one-column id frame; the
    query-vector block is collected to a driver-side matrix (recall
    evaluation SAMPLES queries — the budget is bounded by contract), the
    budget × corpus score matrix computes in ONE Arrow-batched numpy
    pass over the corpus, then one per-query window top-k.

    Bit-exactness contract: every per-pair sum the interpreted
    ``F.aggregate`` fold produced is reproduced EXACTLY — the numpy
    kernel loops over DIMENSIONS, so each pair's accumulator performs
    the identical IEEE sequence ((0.0 + p₀) + p₁) + … (numpy elementwise
    multiply and add each round once per element, exactly like the
    scalar fold's steps; vectorisation is across PAIRS, which shares no
    arithmetic).  The division is one IEEE op inside the kernel; the
    1e-12 rounding stays a Spark-side ``functions.round12`` (DuckDB's
    ``round(x, 12)``), byte-identical to every other scoring path.
    Replaces a 512k-pair interpreted-fold evaluation (CodegenFallback —
    the recall audit's dominant stage; the audit key measured 4.0 s →
    2.8 s at sf0.1, the remainder being the IVF approx side).

    Scoring and tie-breaking (round-12 cosine desc, id asc) match
    :func:`ivf_ann_topk`/:func:`lsh_ann_topk` exactly, so set
    differences measure CANDIDATE misses, never scoring drift.
    Returns (id_a=query, id_b=neighbor, cosine)."""
    import numpy as np
    from pyspark.sql import Window

    qrows = (
        embeddings.join(F.broadcast(queries.select(F.col(id_col))), id_col)
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    if not qrows:
        sess = embeddings.sparkSession
        return sess.createDataFrame([], "id_a long, id_b long, cosine double")
    qids = [int(r[0]) for r in qrows]
    Q = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    dim = Q.shape[1]
    # query norms: the same left fold, one pair (query, query) at a time
    qn2 = np.zeros(len(qids), dtype=np.float64)
    for i in range(dim):
        qn2 += Q[:, i] * Q[:, i]
    qn = np.sqrt(qn2)
    nq = len(qids)
    qid_rep = np.array(qids, dtype=np.int64)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id_b"].to_numpy()
            # vstack of the Arrow-decoded float64 rows: value-identical to
            # the old per-element float() loop, without 512k Python calls
            X = np.vstack(pdf["v"].to_numpy()).astype(np.float64, copy=False)
            if X.shape[1] != dim:
                raise ValueError(
                    f"exact_cosine_topk: corpus vector width {X.shape[1]} != query width {dim}"
                )
            # corpus norms + dots, dimension-looped for fold-exact sums
            n2 = np.zeros(len(ids), dtype=np.float64)
            acc = np.zeros((nq, len(ids)), dtype=np.float64)
            for i in range(dim):
                xi = X[:, i]
                n2 += xi * xi
                acc += Q[:, i : i + 1] * xi[None, :]
            cos = acc / (qn[:, None] * np.sqrt(n2)[None, :])
            yield pd.DataFrame(
                {
                    "id_a": np.repeat(qid_rep, len(ids)),
                    "id_b": np.tile(ids, nq),
                    "cosine": cos.reshape(-1),
                }
            )

    # CPU-bound numpy work: spread the corpus over the cluster's cores
    # (defaultParallelism — byte-sized AQE coalescing would starve it)
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    corpus = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v")).repartition(
        n_parts
    )
    scored = (
        corpus.mapInPandas(score, schema="id_a long, id_b long, cosine double")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", round12(F.col("cosine")).alias("cosine"))
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc_nulls_last(), F.col("id_b").asc())
    return scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "id_a",
    item_col: str = "id_b",
) -> DataFrame:
    """recall@k per query of an approximate top-k result against the
    exact one: |approx ∩ exact| / |exact| over the neighbor SETS — the
    first quality number an ANN user asks, measured instead of asserted.
    Both inputs are (query, item[, score]) top-k frames (already ≤ k rows
    per query); the intersection is one semi-join on (query, item) — at
    any scale this costs two narrow top-k frames, never touching vectors.
    Returns (query, n_exact, n_hit, recall)."""
    a = approx.select(F.col(query_col).alias("query"), F.col(item_col).alias("item"))
    e = exact.select(F.col(query_col).alias("query"), F.col(item_col).alias("item"))
    hits = e.join(a, ["query", "item"], "left_semi").groupBy("query").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    base = e.groupBy("query").agg(F.count(F.lit(1)).alias("n_exact"))
    return base.join(hits, "query", "left").select(
        "query",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        round12(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact")).alias("recall"),
    )


def _exact_rerank(pairs: DataFrame, embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Score candidate (id_a, id_b) pairs with the exact cosine by joining
    back to the NARROW vector table twice by id — candidates shuffle as two
    longs, never carrying the embeddings through the candidate join.
    Sums are plain-double LEFT FOLDS (F.aggregate evaluates in array
    order) — replay oracles reproduce them bit-identically with DuckDB's
    list_reduce left fold, so no decimal/fixed-point detour is needed.

    The fold is interpreted (CodegenFallback), but a round-14 in-process
    A/B says it BEATS an exact_cosine_topk-style numpy mapInPandas kernel
    here: candidate pairs are join products, so a kernel forces BOTH
    vectors of every pair across the Arrow boundary (2·dim·8 bytes/pair)
    where the fold keeps them JVM-side — measured a wash on the IVF keys
    and a 1.3 → 3.0 s regression on dedup_embedding_cosine_lsh (the same
    lesson as the rejected pandas-UDF minhash estimate)."""
    vecs = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.sqrt(_double_norm2(F.col(vec_col))).alias("nrm")
    )
    return (
        pairs.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            round12(_double_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: every (a < b) pair with
    ``cosine(a, b) >= threshold``.

    This is the verification-oracle / small-N baseline (quadratic by
    definition — :func:`embedding_cosine_pairs_lsh` is the 100 TB path).
    The plan is deliberately the same formulation a SQL oracle uses, kept
    fully inside whole-stage codegen (no interpreted higher-order lambdas,
    no Python):

    * posexplode each vector once → (id, i, x) term rows,
    * per-id squared norms = one decimal-summed aggregation over the terms,
    * pair dot products = equi-join of the term table with itself on the
      component index ``i`` (a.id < b.id) → per-term decimal product →
      hash-aggregated decimal sum per (id_a, id_b),
    * cosine = dot / (‖a‖·‖b‖), rounded to 12 decimals BEFORE the
      threshold filter so engine and oracle agree at the boundary.

    Decimal routing makes the sums order-independent, so the result is
    bit-identical to a DuckDB oracle re-summing in another order (see
    functions.dsum).
    """
    terms = embeddings.select(F.col(id_col).alias("id"), F.posexplode(vec_col).alias("i", "x"))
    n2 = terms.groupBy("id").agg(
        F.sum((F.col("x").cast("double") * F.col("x").cast("double")).cast(_PROD_DEC)).cast("double").alias("n2")
    )
    a, b = terms.alias("a"), terms.alias("b")
    dots = (
        a.join(b, (F.col("a.i") == F.col("b.i")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (F.col("a.x").cast("double") * F.col("b.x").cast("double")).cast(_PROD_DEC).alias("p"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum("p").cast("double").alias("dot"))
    )
    return (
        dots.join(n2.select(F.col("id").alias("id_a"), F.col("n2").alias("na")), "id_a")
        .join(n2.select(F.col("id").alias("id_b"), F.col("n2").alias("nb")), "id_b")
        .select("id_a", "id_b", round12(F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    num_planes: int | None = None,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-accelerated — the scale path.

    Random-hyperplane buckets prune the pair space (the collision
    probability per plane is 1 − θ/π, so pairs above the cosine threshold
    collide with high probability in at least one of the ``num_tables``
    tables), then every surviving candidate is re-scored with the EXACT
    cosine and filtered at ``threshold`` — so precision is exact; only
    recall is approximate, and it grows with ``num_tables``
    (OR-construction).  Feed the output to ``dedup.near_dup_clusters`` for
    canonical-document selection.
    """
    pairs = lsh_bucket_candidates(
        embeddings, num_planes=num_planes, num_tables=num_tables, id_col=id_col, vec_col=vec_col, n_rows=n_rows
    )
    return _exact_rerank(pairs, embeddings, id_col, vec_col).where(F.col("cosine") >= threshold)


def _bucket_udf(num_planes: int, num_tables: int):
    """Arrow-vectorized bucket signatures: one numpy matmul per batch
    against seeded Gaussian hyperplanes → ``num_tables`` bucket ids per
    vector.

    Why a Pandas UDF here: Spark's higher-order array functions
    (aggregate/zip_with) are interpreted per-element — num_tables ×
    num_planes nested aggregates dominated the wall clock.  A (n, dim) @
    (dim, tables·planes) matmul is the same math fully vectorized.  The
    planes come from ``numpy.random.RandomState`` (the frozen legacy
    generator — bit-reproducible across platforms and workers), so every
    executor derives identical matrices without shipping state.  The
    matrix is memoized per dim in a closure dict once the first batch
    reveals the dimensionality, so each deserialized UDF instance (≈ per
    task) pays the RNG + hstack once, not once per Arrow batch.
    """
    from pyspark.sql.functions import pandas_udf

    plane_memo: dict = {}

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.vstack(v.to_numpy())  # (n, dim)
        dim = mat.shape[1]
        planes = plane_memo.get(dim)
        if planes is None:
            planes = np.hstack(
                [np.random.RandomState(7_000 + t).standard_normal((dim, num_planes)) for t in range(num_tables)]
            )  # (dim, tables*planes)
            plane_memo[dim] = planes
        signs = (mat.astype(np.float64) @ planes) > 0  # (n, tables*planes)
        weights = (1 << np.arange(num_planes)).astype(np.int64)
        per_table = [signs[:, t * num_planes : (t + 1) * num_planes] @ weights for t in range(num_tables)]
        out = np.stack(per_table, axis=1)  # (n, tables)
        return pd.Series(list(out))

    return buckets


def lsh_bucket_candidates(
    embeddings: DataFrame,
    num_planes: int | None = None,
    num_tables: int = 4,
    target_bucket_rows: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = 8192,
    n_rows: int | None = None,
) -> DataFrame:
    """Random-hyperplane LSH candidate pairs — the 100 TB ANN path.

    Scale controls (the three knobs that keep the self-join subquadratic):

    * ``num_planes`` defaults to ``ceil(log2(N / target_bucket_rows))`` —
      the plane count GROWS with the table so expected bucket occupancy
      stays ~``target_bucket_rows`` and the per-bucket self-join stays
      ~N·target_bucket_rows instead of N²/2^planes with a fixed small
      plane count.
    * ``num_tables`` independent hash tables (OR-construction) recover the
      recall that more planes cost: a true neighbor pair is emitted if ANY
      table buckets it together.
    * candidates are pair-deduped before any downstream re-rank
      (:func:`lsh_ann_topk` does the exact-cosine re-rank).

    Shape: bucket signatures are one Arrow-batched matmul (map-only); ONE
    self-join on (table, bucket) covers all hash tables; dedup keys on
    (id_a, id_b).

    Auto-sizing needs the table's row count; pass ``n_rows`` (exact or
    approximate) to skip the extra ``count()`` job over the table — at
    100 TB that scan is a whole job per call.  ``max_bucket_rows`` salts
    degenerate hot buckets so no single bucket ever goes quadratic (see
    :mod:`scalligraph_spark.operators.buckets`).
    """
    from scalligraph_spark.operators.buckets import salted_bucket_pairs

    if num_planes is None:
        import math

        n = n_rows if n_rows is not None else embeddings.count()
        num_planes = max(4, min(28, math.ceil(math.log2(max(2.0, n / target_bucket_rows)))))
    udf = _bucket_udf(num_planes, num_tables)
    # persist: the bucket-signature frame feeds the oversize check and both
    # sides of the self-join — unpersisted, the Arrow matmul UDF re-runs
    # once per scan (caller-owned lifetime, as in minhash_lsh_pairs)
    sigs = embeddings.select(F.col(id_col).alias("id"), udf(F.col(vec_col)).alias("bks")).persist()
    # carry the all-tables bucket array so the pair join dedups by first
    # colliding table instead of a dropDuplicates exchange over raw pairs
    tb = sigs.select("id", "bks", F.posexplode("bks").alias("tbl", "bucket"))
    return salted_bucket_pairs(
        tb, ["tbl", "bucket"], max_bucket_rows, table_keys=("tbl", "bks", num_tables)
    )


def _train_centroids(embeddings, n_centroids, sample_rows, id_col, vec_col, iters=5):
    """Spherical k-means trained DRIVER-SIDE on a deterministic sample —
    the standard IVF shape: the coarse quantizer trains on a bounded
    sample (hash-ordered → reproducible), assignment runs distributed.
    Returns unit-norm centroids as a (k, dim) float64 numpy array."""
    import numpy as np

    rows = (
        embeddings.select(vec_col, id_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(sample_rows)
        .collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_centroids):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_ann_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    n_probe: int = 4,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    n_list: int = 1,
    centroids=None,
    queries=None,
) -> DataFrame:
    """IVF approximate top-k neighbors — the second scale path beside LSH.

    Re-rank sums are plain-double LEFT FOLDS (F.aggregate evaluates in
    array order), which replay oracles reproduce bit-identically with
    DuckDB's list_reduce — value-exact verification costs the production
    path nothing.

    ``queries`` (a one-column id frame) restricts the PROBE side to a
    bounded query set: the cell index still covers the full corpus, but
    candidate generation and the exact re-rank — the expensive joins —
    run only for the sampled queries.  This is the recall-audit shape at
    100 TB: the audit's cost must scale with its query budget, never
    with the corpus squared.

    Pipeline: spherical k-means coarse quantizer (trained on a
    deterministic ≤``sample_rows`` sample, driver-side numpy) → every
    vector lists into its nearest cell (one Arrow matmul, map-only) →
    each query probes its ``n_probe`` nearest cells (candidates =
    probe ⋈ cell-index equi-join, the only shuffle) → exact-cosine
    re-rank → top k per query.

    ``centroids`` skips training entirely: pass a prebuilt (k, dim)
    unit-row float64 array — normally
    ``load_ann_index(...).centroids`` from a persisted
    :mod:`~scalligraph_spark.operators.ann_index` artifact — and NO
    sample/sizing job launches; repeated queries amortize one index
    build, the reference's declared-index discipline
    (models/Model.scala:16-19).

    Scale: cells ≈ √N keeps cell lists ≈ √N rows; candidates per query ≈
    n_probe·√N — subquadratic, with recall controlled by n_probe.  Pass
    ``n_rows`` (exact or approximate) to skip the auto-sizing ``count()``
    job — at 100 TB that is an extra scan of the table per call.

    ``n_list`` is the multi-assignment knob: each vector LISTS into its
    ``n_list`` nearest cells (not just the nearest), so boundary vectors —
    the classic IVF recall leak — are findable from either side of the
    cell edge.  Storage/candidate volume grows ×n_list; recall is
    monotone in both knobs.
    """
    import math

    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        n_centroids = len(C)
    else:
        if n_centroids is None:
            n = n_rows if n_rows is not None else embeddings.count()
            n_centroids = max(4, min(4096, int(math.sqrt(max(n, 4)))))
        C = _train_centroids(embeddings, n_centroids, sample_rows, id_col, vec_col)
    n_probe = min(max(n_probe, n_list), n_centroids)
    n_list = min(n_list, n_centroids)

    @pandas_udf("array<int>")
    def probe_cells(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        sims = M @ C.T  # (n, k_centroids)
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    # LIFETIME CONTRACT (caller-owned): narrow (id, cells) cache rides the
    # returned plan — canonical-plan-keyed (identical inputs share one
    # entry); release with spark.catalog.clearCache() in long sessions
    cells = embeddings.select(F.col(id_col).alias("id"), probe_cells(F.col(vec_col)).alias("cells")).persist()
    # fill the cache now, eagerly: the plan below scans it twice (the
    # index and the probe side of the self-join), and under AQE each scan
    # of a cache nobody has filled yet runs as its own query stage and
    # builds it itself — the Arrow probe UDF would run once per scan
    cells.count()
    # each vector lists in its n_list nearest cells (multi-assignment)
    index = cells.select("id", F.explode(F.slice("cells", 1, n_list)).alias("cell"))
    probes = cells.select(F.col("id").alias("qid"), F.explode("cells").alias("cell"))
    if queries is not None:
        probes = probes.join(
            F.broadcast(
                queries.select(F.col(queries.columns[0]).alias("qid")).distinct()
            ),
            "qid",
            "left_semi",
        )
    cands = (
        probes.join(index, "cell")
        .where(F.col("qid") != F.col("id"))
        .select(F.col("qid").alias("id_a"), F.col("id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact re-rank through the shared helper (identical expression tree
    # to the inline fold this replaces — pure dedup of the code path)
    scored = _exact_rerank(cands, embeddings, id_col, vec_col)
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc_nulls_last(), F.col("id_b").asc())
    return scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


def lsh_ann_topk(
    embeddings: DataFrame,
    k: int = 10,
    num_planes: int | None = None,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate top-k neighbors per vector: LSH candidates → exact
    cosine re-rank → k best per id (both directions of each pair count).

    The re-rank joins candidate pairs back to the (narrow) embedding table
    twice by id, computes the exact cosine, and keeps the top k per
    source id with a window — TakeOrdered-per-key, no global sort.
    """
    from pyspark.sql import Window

    # bucket size derives from k: num_tables × bucket ≈ several × k candidate
    # neighbors per vector is plenty for a top-k re-rank; bigger buckets just
    # quadratically inflate the self-join without improving the final k
    pairs = lsh_bucket_candidates(
        embeddings,
        num_planes=num_planes,
        num_tables=num_tables,
        target_bucket_rows=max(16, 2 * k),
        id_col=id_col,
        vec_col=vec_col,
        n_rows=n_rows,
    )
    # score each undirected pair ONCE, then mirror the scored rows — halves
    # the dot products vs scoring both directions
    scored = _exact_rerank(pairs, embeddings, id_col, vec_col)
    # persist + eager count: both union branches read the scored pairs —
    # a lazy persist would compute the whole candidate pipeline once per
    # branch inside the same job before the cache populates.
    # LIFETIME CONTRACT (caller-owned): pair-volume-sized cache rides the
    # returned plan (canonical-plan-keyed — repeated identical calls share
    # one entry); release with spark.catalog.clearCache() in long sessions
    scored = scored.persist()
    scored.count()
    both = scored.unionByName(
        scored.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), F.col("cosine"))
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cosine").desc_nulls_last(), F.col("id_b").asc())
    return both.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


# -- product quantization (the compressed 100 TB path) -----------------------


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    nbits: int = 8,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 8,
):
    """Train product-quantization codebooks driver-side (same bounded-
    deterministic-sample shape as the IVF quantizer): the vector splits
    into ``m`` subspaces and each learns ``2**nbits`` k-means centroids
    over L2-normalized sample vectors.  Returns a ``(m, 2**nbits, d/m)``
    float64 numpy array.

    Why PQ at 100 TB: an ANN scan over raw float32 embeddings moves
    ``4·d`` bytes per row; over PQ codes it moves ``m`` bytes — 32× less
    for d=64, m=8 — and the asymmetric-distance scorer is a table lookup
    per subspace, no dot product.  Precision is restored by an exact
    re-rank of the short candidate list (:func:`pq_topk`).
    """
    import numpy as np

    k = 1 << nbits
    rows = (
        embeddings.select(vec_col, id_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(sample_rows)
        .collect()
    )
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.empty((m, k, dsub))
    rs = np.random.RandomState(1234)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rs.choice(len(S), size=min(k, len(S)), replace=len(S) < k)]
        if len(C) < k:  # tiny corpus: pad with jittered repeats
            C = np.vstack([C, C[rs.choice(len(C), k - len(C))] + rs.normal(0, 1e-6, (k - len(C), dsub))])
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-centroid codes — one Arrow
    batch matmul per subspace, map-only.  Output (id, codes array<int>)
    is the compressed index a 100 TB deployment persists instead of the
    raw vectors."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = codebooks  # captured; identical on every worker (broadcast via closure)
    m, k, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            S = M[:, j * dsub : (j + 1) * dsub]
            # argmin ||s - c||² = argmax (s·c - ½||c||²) — one matmul
            dots = S @ books[j].T - 0.5 * (books[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = dots.argmax(axis=1)
        return pd.Series(list(codes))

    return embeddings.select(F.col(id_col).alias("id"), encode(F.col(vec_col)).alias("codes"))


def pq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 4,
    nbits: int = 8,
    refine: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
) -> DataFrame:
    """Approximate top-k neighbors of one vector via a PQ asymmetric-
    distance scan + exact re-rank.

    Pipeline: codes (map-only, ``m`` bytes/row moves instead of ``4·d``)
    → per-row approx inner product = ``Σ_j table_j[code_j]`` where
    ``table_j = codebook_j · q_sub`` is an ``m × 2^nbits`` lookup built
    once from the query (broadcast via closure, no shuffle) → top
    ``refine`` candidates → exact cosine re-rank → top ``k``.  Precision
    of the final scores is exact; only recall is approximate, controlled
    by ``m``/``nbits``/``refine``.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col)
    q_rows = embeddings.where(F.col(id_col) == query_id).select(vec_col).collect()
    if not q_rows:
        raise ValueError(f"query id {query_id} not found")
    q = np.asarray(list(q_rows[0][0]), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    mm, kk, dsub = codebooks.shape
    tables = np.stack([codebooks[j] @ q[j * dsub : (j + 1) * dsub] for j in range(mm)])  # (m, 2^nbits)

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        C = np.vstack(codes.to_numpy())  # (n, m)
        return pd.Series(tables[np.arange(mm)[None, :], C].sum(axis=1))

    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    cands = (
        codes.where(F.col("id") != query_id)
        .select("id", adc(F.col("codes")).alias("approx_ip"))
        .orderBy(F.col("approx_ip").desc(), F.col("id").asc())
        .limit(refine)
    )
    refined = _exact_rerank(
        cands.select(F.lit(query_id).alias("id_a"), F.col("id").alias("id_b")), embeddings, id_col, vec_col
    )
    return (
        refined.select(F.col("id_b").alias(id_col), "cosine")
        .orderBy(F.col("cosine").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 4,
    refine: int = 64,
    centroids=None,
    codebooks=None,
    m: int = 4,
    nbits: int = 8,
    n_centroids: int | None = None,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ single-query top-k — the composed 100 TB ANN shape (the
    standard FAISS ``IVFx,PQy`` index): the IVF coarse quantizer prunes
    the SCAN (only the query's ``n_probe`` nearest cells are touched),
    PQ codes prune the BYTES (``m`` bytes per candidate row move instead
    of ``4·d``), and an exact-cosine re-rank of the top ``refine``
    restores precision.

    Pass persisted artifacts (``centroids=ix.centroids`` from an IVF
    index, ``codebooks=ix.codebooks`` from a PQ index — see
    :mod:`~scalligraph_spark.operators.ann_index`) and NO training or
    sizing job launches; omitted artifacts train on the usual bounded
    deterministic sample.

    Plan shape: one broadcast-closure matmul assigns cells (map-only),
    the cell filter prunes before encoding, the ADC scan is a per-row
    table lookup, TakeOrdered keeps ``refine`` rows, and only those
    ``refine`` ids join back to raw vectors.  No shuffle except the final
    candidate join-backs on (id).
    """
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        if n_centroids is None:
            n = n_rows if n_rows is not None else embeddings.count()
            n_centroids = max(4, min(4096, int(math.sqrt(max(n, 4)))))
        C = _train_centroids(embeddings, n_centroids, sample_rows, id_col, vec_col)
    if codebooks is None:
        codebooks = pq_train(
            embeddings, m=m, nbits=nbits, sample_rows=sample_rows, id_col=id_col, vec_col=vec_col
        )
    n_probe = min(n_probe, len(C))

    q_rows = embeddings.where(F.col(id_col) == query_id).select(vec_col).collect()
    if not q_rows:
        raise ValueError(f"query id {query_id} not found")
    q = np.asarray(list(q_rows[0][0]), dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probe_cells = set(int(c) for c in np.argsort(-(C @ q))[:n_probe])

    @pandas_udf("int")
    def cell_of(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(M @ C.T, axis=1).astype(np.int32))

    in_cells = (
        embeddings.withColumn("__cell", cell_of(F.col(vec_col)))
        .where(F.col("__cell").isin(list(probe_cells)) & (F.col(id_col) != query_id))
        .drop("__cell")
    )
    mm, kk, dsub = codebooks.shape
    tables = np.stack([codebooks[j] @ q[j * dsub : (j + 1) * dsub] for j in range(mm)])

    @pandas_udf("double")
    def adc(codes: pd.Series) -> pd.Series:
        Cd = np.vstack(codes.to_numpy())
        return pd.Series(tables[np.arange(mm)[None, :], Cd].sum(axis=1))

    cands = (
        pq_encode(in_cells, codebooks, id_col, vec_col)
        .select("id", adc(F.col("codes")).alias("approx_ip"))
        .orderBy(F.col("approx_ip").desc(), F.col("id").asc())
        .limit(refine)
    )
    refined = _exact_rerank(
        cands.select(F.lit(query_id).alias("id_a"), F.col("id").alias("id_b")),
        embeddings,
        id_col,
        vec_col,
    )
    return (
        refined.select(F.col("id_b").alias(id_col), "cosine")
        .orderBy(F.col("cosine").desc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    sample_rows: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
    max_bucket_rows: int | None = 8192,
    centroids=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal by
    clustering embeddings and pruning within clusters only.

    ``centroids`` skips the per-call quantizer training — pass
    ``load_ann_index(...).centroids`` from a persisted
    :mod:`~scalligraph_spark.operators.ann_index` artifact to reuse one
    index build across repeated dedup passes (crawl increments hitting the
    same cell structure also makes the decision stable across runs).

    Pipeline: spherical k-means coarse clustering (the same bounded-sample
    driver-side quantizer IVF uses) → each vector assigns to its ONE
    nearest cell (Arrow matmul, map-only) → within-cell pairs via the
    salted bucket self-join (never all-pairs; candidates per cell are
    bounded) → exact-cosine verify against ``threshold`` → connected
    components → canonical = min id per semantic cluster.

    Returns ``(id, canonical_id, is_kept)`` over every input vector;
    pairless vectors stay singleton/kept.  Cross-cell near-duplicates are
    invisible by construction — that is SemDeDup's documented recall
    trade (cells ≈ √N makes the within-cell work subquadratic); raise
    ``n_centroids`` down or the threshold up to trade recall vs cost.
    Pass ``n_rows`` to skip the auto-sizing ``count()`` scan.
    """
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from scalligraph_spark.operators.buckets import salted_bucket_pairs

    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        if n_centroids is None:
            n = n_rows if n_rows is not None else embeddings.count()
            n_centroids = max(4, min(4096, int(math.sqrt(max(n, 4)))))
        C = _train_centroids(embeddings, n_centroids, sample_rows, id_col, vec_col)

    @pandas_udf("int")
    def nearest_cell(v: pd.Series) -> pd.Series:
        M = np.vstack(v.to_numpy()).astype(np.float64)
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(M @ C.T, axis=1).astype(np.int32))

    cells = embeddings.select(F.col(id_col).alias("id"), nearest_cell(F.col(vec_col)).alias("cell"))
    # one row per id, one bucket table → the join emits each pair at most
    # once by construction, so the pair-dedup exchange is skipped
    cand = salted_bucket_pairs(cells, ["cell"], max_bucket_rows, unique_pairs=True)
    dups = _exact_rerank(cand, embeddings, id_col, vec_col).where(F.col("cosine") >= threshold)
    from scalligraph_spark.operators.dedup import pairs_to_clusters

    out = pairs_to_clusters(embeddings.select(F.col(id_col)), dups, id_col=id_col)
    return out.select(F.col("doc_id").alias(id_col), "canonical_id", "is_kept")


def normalize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize every vector (map-only) — the storage/ANN prep that
    turns cosine into dot product so downstream index probes skip the
    per-row norm.  Norms route through the decimal sum (order-independent)
    and each component rounds to 12, the module's cross-engine precision
    convention; zero vectors pass through unchanged.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = F.sqrt(_decimal_norm2(F.col(vec_col)))
    unit = F.when(n == 0, v).otherwise(
        F.transform(v, lambda x: round12(x / n))
    )
    return embeddings.select(F.col(id_col), unit.alias("unit"))


def quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = max|vᵢ|,
    ``q = floor(v·127/scale + 0.5)`` (round-half-up — identical on every
    engine, unlike banker's rounding) → 1 byte per dimension instead of 4
    through every scan and shuffle; dequantize as ``q·scale/127``.  The
    cheap storage tier under PQ (`pq_encode` is the m-byte product-code
    path; int8 keeps full dimensionality).  Map-only; zero vectors emit
    zero codes.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    s = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(
        s == 0, F.transform(v, lambda x: F.lit(0))
    ).otherwise(
        F.transform(v, lambda x: F.floor(x * 127 / s + 0.5).cast("int"))
    )
    return embeddings.select(
        F.col(id_col), q.alias("q8"), round12(s).alias("scale")
    )


def label_centroids(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-class mean embedding (class prototypes: nearest-centroid
    classification, few-shot retrieval, cluster drift monitoring).

    Scale shape: posexplode to (label, dim, x) — dim·rows narrow rows —
    ONE map-side-combined decimal-sum aggregate per (label, dim), then the
    card(labels)-sized rebuild sorts each centroid's dims inside the row
    (array_sort over structs, no extra shuffle).  Component means are
    decimal-summed / count (order-independent) and rounded to 12.
    """
    terms = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "i", "x"
        ),
    )
    per = terms.groupBy("label", "i").agg(
        round12(
            (F.sum(F.col("x").cast(_PROD_DEC)).cast("double") / F.count("x")).cast("double")
        ).alias("m"),
        F.count(F.lit(1)).alias("__n"),
    )
    return per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("i"), F.col("m")))),
            lambda p: p["m"],
        ).alias("centroid"),
        F.max("__n").alias("n_vectors"),
    )


def classify_by_centroid(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: assign every vector the
    label of its highest-cosine class prototype → (id, predicted_label,
    cosine).  Pairs with :func:`label_centroids` for train→serve, and
    doubles as the cluster-assignment step of drift monitoring.

    Scale shape: the centroid table broadcasts (card(labels) rows); each
    vector scores all prototypes in one map-side pass — no shuffle at
    all; argmax via ``min_by`` over a (−cosine, label) struct so ties
    break on the smaller label deterministically.  Cosines use the
    module's decimal-dot + round(12) convention.
    """
    c = F.broadcast(
        centroids.select(
            F.col(label_col).alias("__lbl"),
            F.col(centroid_col).alias("__c"),
            _decimal_norm2(F.col(centroid_col)).alias("__cn"),
        )
    )
    scored = embeddings.select(
        F.col(id_col), F.col(vec_col), _decimal_norm2(F.col(vec_col)).alias("__vn")
    ).crossJoin(c)
    cos = round12(
        _decimal_dot(F.col(vec_col), F.col("__c"))
        / (F.sqrt(F.col("__vn")) * F.sqrt(F.col("__cn")))
    )
    return (
        scored.select(F.col(id_col), F.col("__lbl"), cos.alias("__cos"))
        .groupBy(id_col)
        .agg(
            F.min_by(
                F.struct(F.col("__lbl").alias("predicted_label"), F.col("__cos").alias("cosine")),
                F.struct((-F.col("__cos")).alias("nc"), F.col("__lbl").alias("l")),
            ).alias("__best")
        )
        .select(id_col, "__best.predicted_label", "__best.cosine")
    )


def classification_report(
    predictions: DataFrame,
    truth: DataFrame,
    id_col: str = "vec_id",
    pred_col: str = "predicted_label",
    true_col: str = "label",
) -> DataFrame:
    """Per-class precision/recall/F1 from (id, predicted) vs (id, true)
    — the evaluation tail of :func:`classify_by_centroid` (or any
    classifier serving through the engine).

    One equi-join on id + two count aggregates over the (true, predicted)
    confusion pairs; card(labels²) rows after the first aggregate, so
    everything downstream is broadcast-sized.  Ratios are exact-integer
    divisions rounded to 12; classes with zero predictions/support get
    0.0 rather than null (the sklearn zero_division=0 convention).
    """
    joined = predictions.select(F.col(id_col), F.col(pred_col).alias("__p")).join(
        truth.select(F.col(id_col), F.col(true_col).alias("__t")), id_col
    )
    conf = joined.groupBy("__t", "__p").agg(F.count(F.lit(1)).alias("n"))
    support = conf.groupBy("__t").agg(F.sum("n").alias("support"))
    predicted = conf.groupBy("__p").agg(F.sum("n").alias("n_predicted"))
    tp = conf.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("label"), F.col("n").alias("tp")
    )
    base = (
        support.select(F.col("__t").alias("label"), "support")
        .join(predicted.select(F.col("__p").alias("label"), "n_predicted"), "label", "full_outer")
        .join(tp, "label", "left")
        .fillna({"support": 0, "n_predicted": 0, "tp": 0})
    )
    precision = F.when(
        F.col("n_predicted") > 0, F.col("tp") / F.col("n_predicted")
    ).otherwise(F.lit(0.0))
    recall = F.when(F.col("support") > 0, F.col("tp") / F.col("support")).otherwise(
        F.lit(0.0)
    )
    f1 = F.when(
        (F.col("__prec") + F.col("__rec")) > 0,
        2 * F.col("__prec") * F.col("__rec") / (F.col("__prec") + F.col("__rec")),
    ).otherwise(F.lit(0.0))
    return (
        base.withColumn("__prec", precision)
        .withColumn("__rec", recall)
        .select(
            "label",
            "support",
            "n_predicted",
            "tp",
            round12(F.col("__prec")).alias("precision"),
            round12(F.col("__rec")).alias("recall"),
            round12(f1).alias("f1"),
        )
    )
