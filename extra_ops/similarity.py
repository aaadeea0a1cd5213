"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k by cosine, the correctness
  baseline. The dot product runs JVM-side via zip_with + aggregate
  (no Python); O(Q*N) — fine for rerank stages and oracles.
- ``ann_lsh_topk``: the scale path — random-hyperplane LSH signatures
  (sign bits of projections, computed in a vectorized Arrow UDF over
  numpy), candidates from multi-table bucket joins, exact rerank of
  candidates only. Recall is tunable via (n_tables, n_bits).

Quantized option: ``dot_q`` computes an integer dot product of
round(x*1000) vectors — bit-for-bit reproducible across engines (used
by the DuckDB oracle queries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    q_id: str = "query_id",
    i_id: str = "vec_id",
    q_vec: str = "embedding",
    i_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine, rank). Ties broken
    by item id. Query side is broadcast (queries are few; items huge)."""
    q = queries.select(F.col(q_id).alias("_qid"), F.col(q_vec).alias("_qv"))
    it = items.select(F.col(i_id).alias("_iid"), F.col(i_vec).alias("_iv"))
    d = F.broadcast(q).crossJoin(it).withColumn(
        "cosine",
        _dot(F.col("_qv"), F.col("_iv")) / (_norm(F.col("_qv")) * _norm(F.col("_iv"))),
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.col("_iid"))
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(q_id),
            F.col("_iid").alias(i_id),
            "cosine",
            "rank",
        )
    )


#: embedding quantization scale: vq = round_half_away(x * 1000), the
#: same quantization the dot_q oracle tier uses (Spark F.round / DuckDB
#: round are both half-away-from-zero).
Q_SCALE = 1000


def _emb_matrix(emb: pd.Series) -> np.ndarray:
    """Arrow-batched array<float> Series -> (N, D) float64 matrix.
    One C-level concatenate instead of a per-row Python loop (measured
    ~4x cheaper at 100k x 64); embeddings are fixed-dimension, which
    the reshape asserts for free."""
    vals = emb.to_numpy()
    if len(vals) == 0:
        return np.zeros((0, 0), dtype=np.float64)
    return np.concatenate(vals).reshape(len(vals), -1).astype(np.float64)


def _quantize(mat: np.ndarray) -> np.ndarray:
    """Half-away-from-zero round(x*1000) -> int64, exactly matching
    DuckDB round() on the binary double value: rint (half-to-even, exact
    for non-halves — unlike floor(v+0.5), which misrounds values like
    0.49999999999999994) with representable .5 fractions fixed to
    away-from-zero."""
    v = mat * Q_SCALE
    r = np.rint(v)
    half = np.abs(v - np.trunc(v)) == 0.5
    return np.where(half, np.trunc(v) + np.sign(v), r).astype(np.int64)


def _hyperplanes(dim: int, n_tables: int, n_bits: int, seed: int = 13) -> np.ndarray:
    """INTEGER hyperplanes in [-1000, 1000]: projections of quantized
    embeddings are exact int64 dot products, so bucket ids are
    bit-reproducible in the DuckDB oracle (sql_lsh_buckets) — no float
    sign flips at the decision boundary."""
    rng = np.random.default_rng(seed)
    return rng.integers(-1000, 1001, size=(n_tables, n_bits, dim)).astype(np.int64)


def lsh_bucket_udf(spark, dim: int, n_tables: int, n_bits: int, seed: int = 13):
    """Arrow-batched signature kernel: per row, one bucket id per table
    (sign bits of integer hyperplane projections of the quantized
    embedding, packed to int64). All-integer: |proj| <= D*1000*|vq| stays
    far under 2^63, every step exact."""
    planes_bc = spark.sparkContext.broadcast(_hyperplanes(dim, n_tables, n_bits, seed))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(emb: pd.Series) -> pd.Series:
        planes = planes_bc.value  # (T, B, D) int64
        mat = _emb_matrix(emb)  # (N, D)
        vq = _quantize(mat)  # (N, D) int64
        # (T, B, N) integer projections -> sign bits -> packed ids
        proj = np.einsum("tbd,nd->tbn", planes, vq)
        bits = (proj > 0).astype(np.int64)  # (T, B, N)
        weights = (1 << np.arange(bits.shape[1], dtype=np.int64))[None, :, None]
        packed = (bits * weights).sum(axis=1)  # (T, N)
        out = [
            [int(packed[t, i]) for t in range(planes.shape[0])]
            for i in range(vq.shape[0])
        ]
        return pd.Series(out)

    return buckets


def sql_quantized(vec: str) -> str:
    return f"list_transform({vec}, x -> round(CAST(x AS DOUBLE) * {Q_SCALE}))"


def sql_lsh_buckets(
    dim: int, n_tables: int, n_bits: int, seed: int = 13, vec: str = "v"
) -> list[str]:
    """DuckDB twin of lsh_bucket_udf: one bucket expression per table
    over a quantized list column ``vec`` (literal integer planes from
    the same seeded generator)."""
    planes = _hyperplanes(dim, n_tables, n_bits, seed)
    exprs = []
    for t in range(n_tables):
        terms = []
        for b in range(n_bits):
            lit = "[" + ", ".join(str(int(x)) for x in planes[t, b]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec}, {lit}) > 0 THEN {1 << b} ELSE 0 END)"
            )
        exprs.append("(" + " + ".join(terms) + ")")
    return exprs


def lsh_probe_bucket_udf(spark, dim: int, n_tables: int, n_bits: int, seed: int = 13):
    """Multi-probe companion of :func:`lsh_bucket_udf`: per row and
    table, [base_bucket, probe_bucket] where the probe flips the bit
    with the SMALLEST |projection| (ties -> smallest bit index) — the
    classic multi-probe LSH move (Lv '07): the lowest-margin bit is
    the likeliest sign flip for a true neighbour, so probing that one
    neighbouring bucket buys most of a second table's recall at zero
    index cost.  All-integer margins, bit-reproducible in SQL."""
    planes_bc = spark.sparkContext.broadcast(_hyperplanes(dim, n_tables, n_bits, seed))

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.LongType())))
    def buckets(emb: pd.Series) -> pd.Series:
        planes = planes_bc.value
        vq = _quantize(_emb_matrix(emb))
        proj = np.einsum("tbd,nd->tbn", planes, vq)
        bits = (proj > 0).astype(np.int64)
        weights = (1 << np.arange(bits.shape[1], dtype=np.int64))[None, :, None]
        packed = (bits * weights).sum(axis=1)  # (T, N)
        flip = np.abs(proj).argmin(axis=1)  # (T, N), first = smallest b
        probe = packed ^ (1 << flip)
        out = [
            [[int(packed[t, i]), int(probe[t, i])] for t in range(planes.shape[0])]
            for i in range(vq.shape[0])
        ]
        return pd.Series(out)

    return buckets


def sql_lsh_probe_buckets(
    dim: int, n_tables: int, n_bits: int, seed: int = 13, vec: str = "v"
) -> list[str]:
    """DuckDB twin of the PROBE bucket per table: base bucket XOR
    (1 << argmin_b |proj_b|), ties to the smallest b via first-match
    CASE order."""
    planes = _hyperplanes(dim, n_tables, n_bits, seed)
    base = sql_lsh_buckets(dim, n_tables, n_bits, seed, vec)
    exprs = []
    for t in range(n_tables):
        lits = [
            "[" + ", ".join(str(int(x)) for x in planes[t, b]) + "]"
            for b in range(n_bits)
        ]
        lst = (
            "["
            + ", ".join(f"abs(list_dot_product({vec}, {lit}))" for lit in lits)
            + "]"
        )
        bit = f"(list_position({lst}, list_min({lst})) - 1)"
        exprs.append(f"xor(CAST(({base[t]}) AS BIGINT), (1 << {bit}))")
    return exprs


def ann_lsh_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    dim: int,
    q_id: str = "query_id",
    i_id: str = "vec_id",
    vec: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 10,
    seed: int = 13,
    rank_by: str = "cosine",
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: multi-table LSH bucket join for candidates,
    exact rerank of candidates only. Output schema is
    :func:`cosine_topk_bruteforce`'s plus a ``dot_q`` column (the
    integer quantized dot; drop it for schema-exact unions with the
    brute-force baseline). Queries with < k candidates return fewer
    rows — measure recall against the brute-force baseline.

    ``rank_by``: 'cosine' (float, the similarity spec) or 'dot_q'
    (integer quantized dot — bit-reproducible in the DuckDB oracle; on
    unit-norm embeddings the ordering is the same signal).

    The candidate distinct() runs on (query_id, item_id) pairs ONLY —
    embedding vectors are re-joined afterwards, so the dedup shuffle
    never carries fat array rows."""
    if rank_by not in ("cosine", "dot_q"):
        raise ValueError(f"rank_by must be cosine|dot_q, got {rank_by!r}")
    spark = queries.sparkSession
    budf = lsh_bucket_udf(spark, dim, n_tables, n_bits, seed)

    def tag(df, idc):
        return df.withColumn("_bkts", budf(F.col(vec))).select(
            F.col(idc),
            F.posexplode("_bkts").alias("table", "bucket"),
        )

    if multiprobe:
        # queries probe [base, lowest-margin-flip]; items index base only
        pudf = lsh_probe_bucket_udf(spark, dim, n_tables, n_bits, seed)
        qtag = (
            queries.withColumn("_bkts", pudf(F.col(vec)))
            .select(F.col(q_id), F.posexplode("_bkts").alias("table", "_pair"))
            .select(q_id, "table", F.explode("_pair").alias("bucket"))
        )
    else:
        qtag = tag(queries, q_id)
    cands = (
        qtag
        .join(tag(items, i_id), ["table", "bucket"], "inner")
        .select(q_id, i_id)
        .distinct()
    )
    scored = (
        cands.join(queries.select(F.col(q_id), F.col(vec).alias("_qv")), q_id)
        .join(items.select(F.col(i_id), F.col(vec).alias("_iv")), i_id)
        .withColumn("dot_q", dot_q_expr(F.col("_qv"), F.col("_iv")))
        .withColumn(
            "cosine",
            _dot(F.col("_qv"), F.col("_iv"))
            / (_norm(F.col("_qv")) * _norm(F.col("_iv"))),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.desc(rank_by), F.col(i_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, i_id, "dot_q", "cosine", "rank")
    )


def dot_q_expr(a, b):
    """Integer dot product of round(x*1000) quantized vectors — exactly
    reproducible in ANSI SQL (used by oracle queries)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round(x.cast("double") * 1000).cast("long")
            * F.round(y.cast("double") * 1000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + probe-nearest-lists
# ---------------------------------------------------------------------------

def _argmin_centroid_udf(spark, centroids_q: np.ndarray):
    """index of the nearest centroid per row — EXACT integer squared L2
    between the quantized embedding and pre-quantized centroids, so the
    assignment is bit-reproducible in SQL (ties -> lowest index)."""
    cb = spark.sparkContext.broadcast(centroids_q.astype(np.int64))

    @F.pandas_udf(T.IntegerType())
    def nearest(emb: pd.Series) -> pd.Series:
        c = cb.value  # (K, D) int64
        mat = _emb_matrix(emb)  # (N, D)
        vq = _quantize(mat)  # (N, D) int64
        # (N, K) exact integer distances; argmin ties -> first index
        d = ((vq[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    # value is a pure function of the input, but Catalyst must not
    # clone the call: the join-key isnotnull filter otherwise pushes a
    # SECOND ArrowEvalPython of the assignment below the first
    # (measured 2x the items-side Python cost; same fix as
    # spatial_join._membership_udf)
    return nearest.asNondeterministic()


def _nprobe_centroids_udf(spark, centroids_q: np.ndarray, nprobe: int):
    """nprobe nearest centroid indices per query, same exact integer
    distance; ties broken by centroid index (stable sort)."""
    cb = spark.sparkContext.broadcast(centroids_q.astype(np.int64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        c = cb.value
        mat = _emb_matrix(emb)
        vq = _quantize(mat)
        d = ((vq[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(map(list, order)))

    return probes.asNondeterministic()  # see _argmin_centroid_udf


def train_centroids(
    items: DataFrame,
    dim: int,
    k: int,
    vec: str = "embedding",
    iters: int = 4,
    seed: int = 17,
    sample: int = 4096,
) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (coarse
    quantizers are tiny; the expensive part — assignment of the full
    table — happens distributedly in ivf_topk). A real random sample,
    not limit(): limit() takes the first partitions, which on
    sorted/clustered input trains the quantizer on a biased corner."""
    n = items.count()
    frac = min(1.0, (4.0 * sample) / max(n, 1))
    pdf = items.select(vec).sample(fraction=frac, seed=seed).limit(sample).toPandas()
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec]])
    rng = np.random.default_rng(seed)
    cent = mat[rng.choice(len(mat), size=k, replace=False)]
    for _ in range(iters):
        d = mat @ cent.T * -2.0 + (cent * cent).sum(axis=1)[None, :]
        a = np.argmin(d, axis=1)
        for j in range(k):
            if (a == j).any():
                cent[j] = mat[a == j].mean(axis=0)
    return cent


def ivf_topk(
    queries: DataFrame,
    items: DataFrame,
    k: int,
    dim: int,
    q_id: str = "query_id",
    i_id: str = "vec_id",
    vec: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 17,
    centroids: np.ndarray | None = None,
    centroids_q: np.ndarray | None = None,
    rank_by: str = "cosine",
) -> DataFrame:
    """IVF ANN: items partitioned into centroid lists once; each query
    scans only its nprobe nearest lists, exact rerank inside. Same
    output schema as cosine_topk_bruteforce plus dot_q.

    ``centroids``: pass a (K, D) float matrix to skip training (the
    oracle-checked catalog entry selects data vectors as centroids so
    DuckDB can reproduce the quantizer exactly); default trains k-means
    on a random sample. ``centroids_q``: a (K, D) int64 matrix ALREADY
    in quantized space (e.g. lloyd_refine_centroids output) — used as
    the quantizer verbatim. Assignment and nprobe use EXACT integer L2
    on quantized vectors in every mode."""
    if rank_by not in ("cosine", "dot_q"):
        raise ValueError(f"rank_by must be cosine|dot_q, got {rank_by!r}")
    spark = queries.sparkSession
    if centroids_q is not None:
        cq = centroids_q.astype(np.int64)
    else:
        if centroids is None:
            centroids = train_centroids(items, dim, n_centroids, vec, seed=seed)
        cq = _quantize(np.asarray(centroids, dtype=np.float64))
    assign = _argmin_centroid_udf(spark, cq)
    probes = _nprobe_centroids_udf(spark, cq, nprobe)

    lists = items.select(F.col(i_id), F.col(vec).alias("_iv")).withColumn(
        "_cid", assign(F.col("_iv"))
    )
    qp = queries.select(F.col(q_id), F.col(vec).alias("_qv")).withColumn(
        "_cid", F.explode(probes(F.col("_qv")))
    )
    # broadcast the (queries x nprobe) side and STREAM the item lists:
    # left to itself Spark broadcasts whichever side it estimates
    # smaller, which at scale is wrong here — the item table is the
    # fact side (10^12 design point) and must never be exchanged
    cands = lists.join(F.broadcast(qp), "_cid", "inner")
    scored = cands.withColumn(
        "dot_q", dot_q_expr(F.col("_qv"), F.col("_iv"))
    ).withColumn(
        "cosine",
        _dot(F.col("_qv"), F.col("_iv")) / (_norm(F.col("_qv")) * _norm(F.col("_iv"))),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc(rank_by), F.col(i_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, i_id, "dot_q", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    items: DataFrame,
    threshold: float,
    dim: int,
    i_id: str = "vec_id",
    vec: str = "embedding",
    n_tables: int = 12,
    n_bits: int = 8,
    seed: int = 13,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup tier):
    multi-table hyperplane LSH candidates -> exact cosine >= threshold.
    (id_a < id_b, cosine) with no false positives; recall is the LSH
    knob, measured in tests.

    Candidate dedup happens on (id_a, id_b) only; vectors are re-joined
    for the exact check, so the distinct never shuffles embedding
    arrays."""
    spark = items.sparkSession
    budf = lsh_bucket_udf(spark, dim, n_tables, n_bits, seed)
    tagged = items.select(F.col(i_id), F.col(vec)).withColumn(
        "_bkts", budf(F.col(vec))
    ).select(i_id, F.posexplode("_bkts").alias("table", "bucket"))
    a = tagged.select(F.col(i_id).alias("id_a"), "table", "bucket")
    b = tagged.select(F.col(i_id).alias("id_b"), "table", "bucket")
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = items.select(F.col(i_id).alias("id_a"), F.col(vec).alias("_va"))
    vb = items.select(F.col(i_id).alias("id_b"), F.col(vec).alias("_vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _assign_quantize_udf(spark, centroids_q: np.ndarray):
    """struct(cid, vq) per row: nearest-centroid index (exact integer
    squared L2, ties -> lowest index) plus the quantized vector — ONE
    Arrow stage feeding the Lloyd update's JVM-side integer sums."""
    cb = spark.sparkContext.broadcast(centroids_q.astype(np.int64))
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType()),
            T.StructField("vq", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(schema)
    def aq(emb: pd.Series) -> pd.DataFrame:
        c = cb.value
        mat = _emb_matrix(emb)
        vq = _quantize(mat)
        d = ((vq[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return pd.DataFrame(
            {"cid": np.argmin(d, axis=1).astype(np.int32), "vq": list(map(list, vq))}
        )

    return aq.asNondeterministic()  # see _argmin_centroid_udf


def lloyd_refine_centroids(
    items: DataFrame,
    centroids_q: np.ndarray,
    vec: str = "embedding",
    iters: int = 1,
) -> np.ndarray:
    """Distributed Lloyd iterations over the FULL table in EXACT integer
    arithmetic — the cluster-scale k-means step (train_centroids is the
    driver-side sample variant for cold starts). Per iteration:

    - assignment: one Arrow stage emits (nearest centroid, quantized
      vector) per row — exact int L2, bit-reproducible in SQL;
    - update: posexplode to (cid, pos, q) and ONE hash agg of integer
      sums/counts — the shuffle carries at most K*D partial rows per
      partition (map-side combine), never vectors;
    - mean: the elementwise FLOOR-divided integer mean
      (s - ((s % n + n) % n)) div n — exact int64 in both engines, no
      FP summation-order divergence, Euclidean-floor on negatives;
    - the K x D result is a bounded query parameter (collected like the
      16-row centroid fetch); empty clusters keep their previous
      centroid, so K never shrinks.

    Returns the refined (K, D) int64 centroid matrix in quantized
    space — feed it to ivf_topk(centroids_q=...)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = items.sparkSession
    cq = centroids_q.astype(np.int64)
    k, dim = cq.shape
    for _ in range(iters):
        aq = _assign_quantize_udf(spark, cq)
        t = (
            items.select(F.col(vec).alias("_v"))
            .withColumn("_aq", aq(F.col("_v")))
            .select(F.col("_aq.cid").alias("cid"), F.col("_aq.vq").alias("vq"))
        )
        sums = (
            t.select("cid", F.posexplode("vq").alias("pos", "q"))
            .groupBy("cid", "pos")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        mean = sums.withColumn(
            "c",
            F.expr("CAST((s - (((s % n) + n) % n)) DIV n AS BIGINT)"),
        )
        rows = mean.select("cid", "pos", "c").collect()
        nxt = cq.copy()  # empty clusters keep their centroid
        for r in rows:
            nxt[r.cid, r.pos] = r.c
        cq = nxt
    return cq


def sql_lloyd_refined_cents(
    iv_cte: str,
    cent_cte: str,
    dim: int,
) -> str:
    """DuckDB twin of ONE lloyd_refine_centroids iteration: given a
    (vec_id, v) quantized-vector CTE and a (cid, cv) centroid CTE,
    returns a SELECT of (cid, cv) with every non-empty cluster's
    centroid replaced by the floor-divided integer mean — identical
    ints to the Spark update. Empty clusters keep their seed via the
    left join."""
    dist = (
        f"(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)"
        f" + list_dot_product(c.cv, c.cv))"
    )
    return f"""
      SELECT c0.cid,
             COALESCE(u.cv, c0.cv) AS cv
      FROM {cent_cte} c0
      LEFT JOIN (
        SELECT cid,
               list(CAST((s - (((s % n) + n) % n)) // n AS BIGINT)
                    ORDER BY pos) AS cv
        FROM (
          SELECT asg.cid, t.pos,
                 SUM(a2.v[t.pos]) AS s, COUNT(*) AS n
          FROM (
            SELECT vec_id, cid FROM (
              SELECT a.vec_id, c.cid,
                     row_number() OVER (PARTITION BY a.vec_id
                                        ORDER BY {dist}, c.cid) AS rn
              FROM {iv_cte} a, {cent_cte} c
            ) WHERE rn = 1
          ) asg
          JOIN {iv_cte} a2 ON a2.vec_id = asg.vec_id,
          UNNEST(generate_series(1, {dim})) AS t(pos)
          GROUP BY asg.cid, t.pos
        ) ssum
        GROUP BY cid
      ) u ON u.cid = c0.cid
    """


def _pq_check(dim: int, codebooks: np.ndarray) -> tuple[int, int, int]:
    cb = np.asarray(codebooks)
    if cb.ndim != 3:
        raise ValueError(f"codebooks must be (m, ksub, dsub), got {cb.shape}")
    m, ksub, dsub = cb.shape
    if ksub < 1:
        raise ValueError(f"ksub must be >= 1, got {ksub}")
    if m * dsub != dim:
        raise ValueError(f"m*dsub = {m}*{dsub} != dim = {dim}")
    return m, ksub, dsub


def _pq_dists(emb: pd.Series, cb: np.ndarray) -> np.ndarray:
    """(n, m, ksub) EXACT integer subspace distance tensor — the ONE
    bit-parity-critical expression shared by encode and table build
    (the DuckDB twin reproduces exactly this arithmetic); validates the
    actual array length against the codebook so a dim mismatch fails
    with a legible error instead of an opaque reshape trace."""
    m, ksub, dsub = cb.shape
    vq = _quantize(_emb_matrix(emb))  # (n, dim)
    if vq.shape[1] != m * dsub:
        raise ValueError(
            f"embedding length {vq.shape[1]} != codebook dim {m}*{dsub}"
        )
    sub = vq.reshape(len(vq), m, dsub)
    return ((sub[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)


def _pq_encode_udf(spark, codebooks_q: np.ndarray):
    """array<int> of m codes per row: per contiguous subspace, the
    nearest codeword by EXACT integer squared L2 over the quantized
    vector (ties -> lowest code) — bit-reproducible in SQL."""
    cb = spark.sparkContext.broadcast(codebooks_q.astype(np.int64))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(emb: pd.Series) -> pd.Series:
        d = _pq_dists(emb, cb.value)
        codes = np.argmin(d, axis=2).astype(np.int32)  # ties -> first
        return pd.Series(list(map(list, codes)))

    return enc.asNondeterministic()  # see _argmin_centroid_udf


def _pq_qtab_udf(spark, codebooks_q: np.ndarray):
    """flattened array<long> of m*ksub ADC table entries per query:
    entry j*ksub + c = exact int L2 between the query's j-th quantized
    subvector and codeword (j, c)."""
    cb = spark.sparkContext.broadcast(codebooks_q.astype(np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def qt(emb: pd.Series) -> pd.Series:
        d = _pq_dists(emb, cb.value)
        n, m, ksub = d.shape
        return pd.Series(list(map(list, d.reshape(n, m * ksub))))

    return qt.asNondeterministic()


def pq_topk(
    queries: DataFrame,
    items: DataFrame,
    codebooks_q: np.ndarray,
    k: int,
    dim: int,
    q_id: str = "query_id",
    i_id: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (ADC): the canonical billion-scale
    memory layout — items compress to m small codes (here m ints; m
    BYTES in a packed deployment), queries carry an m×ksub asymmetric
    distance table, and the scan never touches a raw item vector.

    Returns (q_id, i_id, pq_d2, rank): rank by the EXACT-integer ADC
    distance Σ_j table[j, code_j] (ties -> lowest item id), pure ADC —
    callers wanting exact ordering rerank the top candidates with the
    true metric (the IVF row's pattern). All arithmetic is integer, so
    the DuckDB twin reproduces codes, tables and ranking bit-for-bit.

    Scale shape: ONE Arrow encode stage over items (at 10^12 items the
    codes are the stored index — encode once, not per query); queries
    (with their flattened tables) BROADCAST so the item side never
    exchanges; the per-pair ADC sum is an m-term fold over broadcast
    arrays; the only shuffle is the per-query top-k window on (q, m
    ints) candidate rows."""
    m, ksub, dsub = _pq_check(dim, codebooks_q)
    spark = queries.sparkSession
    enc = _pq_encode_udf(spark, codebooks_q)
    qt = _pq_qtab_udf(spark, codebooks_q)
    coded = items.select(F.col(i_id), enc(F.col(vec)).alias("_codes"))
    qtab = queries.select(F.col(q_id), qt(F.col(vec)).alias("_qtab"))
    pairs = coded.join(F.broadcast(qtab))
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.element_at(
                F.col("_qtab"),
                j * ksub + F.element_at(F.col("_codes"), j + 1) + 1,
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, d: a + d,
    )
    w = Window.partitionBy(q_id).orderBy("pq_d2", i_id)
    return (
        pairs.withColumn("pq_d2", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, i_id, "pq_d2", "rank")
    )


# ---------------------------------------------------------------------------
# top principal component via EXACT fixed-point power iteration — the
# embedding-analytics primitive (dominant direction of a corpus: drift
# monitoring, whitening, spectral initialization) in the shape a
# 10^12-row table demands: the data reduces to ONE 64x64 sufficient
# statistic (the Gram matrix of the quantized embeddings, an
# order-free exact-integer aggregation), and the eigensolve runs on
# that tiny matrix with integer-requantized iterates, so every number
# in the result is exact and engine-independent (no float accumulates
# anywhere; the single division producing the eigenvalue is the only
# float op).
# ---------------------------------------------------------------------------

def pca_gram(items: DataFrame, dim: int, vec: str = "embedding") -> DataFrame:
    """Exact integer Gram matrix of round(x*1000)-quantized embeddings:
    one row per (gi, gj) in [0, dim)², g = Σ_rows q_gi·q_gj summed in
    decimal(38,0). Plan: per-row flattened outer product (pure JVM
    transform/flatten), posexplode, ONE hash aggregate on the 0..dim²-1
    position — map-side combine collapses every partition to dim²
    counters, so the shuffle is dim²·partitions rows whatever the row
    count (the sufficient-statistic reduce)."""
    q = (
        f"transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    op = "flatten(transform(_q, a -> transform(_q, b -> a * b)))"
    return (
        items.select(F.expr(q).alias("_q"))
        .select(F.posexplode(F.expr(op)).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("g"))
        .select(
            (F.col("pos") / dim).cast("long").alias("gi"),
            (F.col("pos") % dim).cast("long").alias("gj"),
            "g",
        )
    )


def pca_power_top(
    items: DataFrame,
    dim: int,
    iters: int = 12,
    scale_bits: int = 20,
    vec: str = "embedding",
):
    """Dominant eigenvector/-value of the quantized-embedding Gram
    matrix by fixed-point power iteration. Returns ``(v, eig, gtrace,
    n_iters)``: v the integer eigenvector iterate (|v|∞ = 2^scale_bits,
    sign fixed so the first nonzero component is positive), eig the
    Rayleigh quotient vᵀGv / vᵀv as ONE division of exact ints, gtrace
    the exact Gram trace (the sufficient-statistic pin).

    Every iteration is exact integer arithmetic — matvec in unbounded
    Python ints over the collected dim² Gram (collecting a 64×64
    sufficient statistic is the textbook driver-side step, not a
    driver loop over data), then requantize w → sign(w)·(|w|·2^s //
    max|w|), truncation-toward-zero spelled so DuckDB's floor `//` on
    the non-negative operands agrees — so the iterate sequence is
    bit-identical in the SQL twin regardless of summation order,
    engine, or retry. A zero matvec stops early (all-zero corpus)."""
    rows = pca_gram(items, dim, vec).collect()
    G = [[0] * dim for _ in range(dim)]
    for r in rows:
        G[int(r.gi)][int(r.gj)] = int(r.g)
    S = 1 << scale_bits
    v = [S] * dim
    w = None
    it = 0
    for it in range(1, iters + 1):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            v = [0] * dim
            break
        v = [(1 if x >= 0 else -1) * ((abs(x) * S) // mx) for x in w]
        fz = next((x for x in v if x != 0), 0)
        if fz < 0:
            v = [-x for x in v]
    w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
    num = sum(v[i] * w[i] for i in range(dim))
    den = sum(x * x for x in v)
    eig = (float(num) / float(den)) if den else None
    gtrace = sum(G[i][i] for i in range(dim))
    return v, eig, gtrace, it


def sql_pca_ctes(dim: int, iters: int = 12, scale_bits: int = 20) -> str:
    """DuckDB twin of pca_power_top over the ``embeddings`` view:
    relational Gram (self-join on vec_id over unnested positions) +
    unrolled fixed-point iterations (matvec = JOIN + SUM, requantize =
    the same sign·(abs·2^s // max) spelling on HUGEINT), every CTE
    MATERIALIZED — each iteration references its predecessor ~3x, so
    DuckDB's default CTE inlining would otherwise expand the plan
    3^iters-fold (measured: a 12-iteration inline plan never finishes
    PLANNING). Defines CTE
    ``pca`` with one row: (pca_eig, pca_v_sig, pca_v0, pca_v1, pca_v2,
    pca_gtrace)."""
    S = 1 << scale_bits
    out = [f"""
    pca_q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    pca_e AS MATERIALIZED (
      SELECT vec_id, i, q[i] AS v FROM pca_q, range(1, {dim + 1}) t(i)
    ),
    pca_g AS MATERIALIZED (
      SELECT a.i AS gi, b.i AS gj,
             SUM(CAST(a.v AS HUGEINT) * b.v) AS g
      FROM pca_e a JOIN pca_e b USING (vec_id) GROUP BY 1, 2
    ),
    pca_v0 AS MATERIALIZED (
      SELECT i AS vi, CAST({S} AS HUGEINT) AS val FROM range(1, {dim + 1}) t(i)
    )"""]
    prev = "pca_v0"
    for k in range(1, iters + 1):
        out.append(f"""
    pca_mv{k} AS MATERIALIZED (
      SELECT gi AS vi, SUM(g * v.val) AS m
      FROM pca_g JOIN {prev} v ON pca_g.gj = v.vi GROUP BY gi
    ),
    pca_mx{k} AS MATERIALIZED (SELECT MAX(ABS(m)) AS mx FROM pca_mv{k}),
    pca_vr{k} AS MATERIALIZED (
      SELECT vi,
             CASE WHEN m >= 0 THEN 1 ELSE -1 END
             * ((ABS(m) * {S}) // NULLIF(mx.mx, 0)) AS val
      FROM pca_mv{k}, pca_mx{k} mx
    ),
    pca_sg{k} AS MATERIALIZED (
      SELECT CASE WHEN (SELECT val FROM pca_vr{k} WHERE val != 0
                        ORDER BY vi LIMIT 1) < 0 THEN -1 ELSE 1 END AS s
    ),
    pca_v{k} AS MATERIALIZED (
      SELECT vi, COALESCE(val, 0) * sg.s AS val FROM pca_vr{k}, pca_sg{k} sg
    )""")
        prev = f"pca_v{k}"
    out.append(f"""
    pca_mvF AS MATERIALIZED (
      SELECT gi AS vi, SUM(g * v.val) AS m
      FROM pca_g JOIN {prev} v ON pca_g.gj = v.vi GROUP BY gi
    ),
    pca AS (
      SELECT CASE WHEN (SELECT SUM(val * val) FROM {prev}) != 0
               THEN CAST((SELECT SUM(v.val * m.m) FROM {prev} v
                          JOIN pca_mvF m USING (vi)) AS DOUBLE)
                    / CAST((SELECT SUM(val * val) FROM {prev}) AS DOUBLE)
             END AS pca_eig,
             (SELECT md5(string_agg(vi - 1 || ':' || val, ',' ORDER BY vi))
              FROM {prev}) AS pca_v_sig,
             (SELECT CAST(val AS VARCHAR) FROM {prev} WHERE vi = 1) AS pca_v0,
             (SELECT CAST(val AS VARCHAR) FROM {prev} WHERE vi = 2) AS pca_v1,
             (SELECT CAST(val AS VARCHAR) FROM {prev} WHERE vi = 3) AS pca_v2,
             (SELECT CAST(SUM(g) AS VARCHAR) FROM pca_g WHERE gi = gj)
               AS pca_gtrace
    )""")
    return ",".join(out)


def kcenter_greedy(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int | None]]:
    """k-center greedy (farthest-point / Gonzalez) coreset selection —
    the diversity-sampling primitive of training-data curation (pick k
    maximally-spread exemplars; the selection radii are the classic
    coverage diagnostic, and Gonzalez '85 proves the result is a
    2-approximation of the optimal k-center cover).

    Exact-integer: vectors quantize to round(x*1000) int64 (the
    repo-wide embedding discipline), d² = Σ (qa_i − qb_i)² is exact,
    the seed is the SMALLEST id, each round picks argmax of
    min-d²-to-selected with ties → smallest id — fully deterministic,
    so the DuckDB twin's unrolled rounds land on the identical ids and
    radii.

    Returns [(id_0, None), (id_1, r2_1), ...] — r2_i is the chosen
    point's min-d² at selection time (the non-increasing radius
    sequence).  k driver actions by design: selection is inherently
    sequential, so this belongs on a NON-benched gate row (the DBSCAN
    relocation lesson); each round is one scan + a broadcast of ≤ k
    quantized vectors."""
    if k < 1:
        raise ValueError("k must be >= 1")
    q = emb.select(
        F.col(id_col).alias("_id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * Q_SCALE).cast("long"),
        ).alias("_q"),
    )
    seed = q.orderBy("_id").limit(1).collect()[0]
    chosen: list[tuple[int, int | None]] = [(seed["_id"], None)]
    chosen_vecs = [seed["_q"]]
    for _ in range(k - 1):
        dists = [
            F.aggregate(
                F.zip_with(
                    F.col("_q"),
                    F.array(*[F.lit(int(v)) for v in cv]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )
            for cv in chosen_vecs
        ]
        pick = (
            q.select("_id", "_q", F.least(*dists).alias("_d2"))
            if len(dists) > 1
            else q.select("_id", "_q", dists[0].alias("_d2"))
        )
        row = pick.orderBy(F.col("_d2").desc(), "_id").limit(1).collect()[0]
        chosen.append((row["_id"], int(row["_d2"])))
        chosen_vecs.append(row["_q"])
    return chosen


def ivfpq_topk(
    queries: DataFrame,
    items: DataFrame,
    codebooks_q: np.ndarray,
    k: int,
    dim: int,
    q_id: str = "query_id",
    i_id: str = "vec_id",
    vec: str = "embedding",
    nprobe: int = 4,
    centroids_q: np.ndarray | None = None,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    seed: int = 17,
) -> DataFrame:
    """IVF-PQ — the canonical billion-scale ANN index (the FAISS
    IVFxx,PQyy shape), composed from the engine's two certified
    halves: items route ONCE into centroid lists (exact integer
    argmin, the IVF coarse quantizer) and store only their m PQ codes;
    each query probes its nprobe nearest lists and ranks candidates by
    the EXACT-integer ADC sum from its m×ksub distance table — the
    scan touches codes, never raw item vectors.

    Output (q_id, i_id, pq_d2, rank) with the (pq_d2, i_id) tie rule —
    identical semantics to ``pq_topk`` restricted to the probed lists
    (asserted in tests), so recall tunes with nprobe exactly like IVF
    while memory per item is m codes.

    Scale shape: both UDF passes over items (assign + encode) COALESCE
    into one stage; queries (with their tables) broadcast; the item
    side is never exchanged — the ivf_topk broadcast discipline."""
    spark = queries.sparkSession
    if centroids_q is not None:
        cq = centroids_q.astype(np.int64)
    else:
        if centroids is None:
            centroids = train_centroids(items, dim, n_centroids, vec, seed=seed)
        cq = _quantize(np.asarray(centroids, dtype=np.float64))
    m, ksub, dsub = _pq_check(dim, codebooks_q)
    assign = _argmin_centroid_udf(spark, cq)
    probes = _nprobe_centroids_udf(spark, cq, nprobe)
    enc = _pq_encode_udf(spark, codebooks_q)
    qt = _pq_qtab_udf(spark, codebooks_q)

    coded = items.select(
        F.col(i_id),
        assign(F.col(vec)).alias("_cid"),
        enc(F.col(vec)).alias("_codes"),
    )
    qp = queries.select(
        F.col(q_id), qt(F.col(vec)).alias("_qtab"),
        F.explode(probes(F.col(vec))).alias("_cid"),
    )
    pairs = coded.join(F.broadcast(qp), "_cid", "inner")
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.element_at(
                F.col("_qtab"),
                j * ksub + F.element_at(F.col("_codes"), j + 1) + 1,
            ),
        ),
        F.lit(0).cast("long"),
        lambda a, d: a + d,
    )
    w = Window.partitionBy(q_id).orderBy("pq_d2", i_id)
    return (
        pairs.withColumn("pq_d2", adc)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, i_id, "pq_d2", "rank")
    )
