"""Similarity search over embedding columns (north-star extension).

Two tiers:
- **Brute-force cosine top-k** — the exact baseline. Quantized-integer dot
  products (functions/vectors.py) keep results bit-deterministic and
  oracle-verifiable. Cost O(n·d) per query; fine for a broadcast query
  vector against any corpus size (narrow map + TakeOrdered).
- **Sign-random-projection LSH (ANN)** — the scale path for pairwise /
  batch queries: hash each vector to a b-bit bucket via fixed hyperplanes,
  search only the query's bucket (optionally multi-probe neighbors).
  Hyperplanes are derived deterministically from a seed, driver-side, and
  enter the plan as literals — no UDF, no broadcast variable needed.

- **IVF (inverted-file) ANN** — the other standard scale path: a coarse
  quantizer partitions the corpus into inverted lists; queries probe only
  the nprobe nearest lists and re-rank exactly inside them. Two quantizer
  flavors here: a *seeded codebook* (unit-normalized pseudo-Gaussian
  centroids from the same deterministic generator as the LSH hyperplanes
  — data-independent, so the whole query is a pure Catalyst plan and
  fully oracle-verifiable; used by the catalog's q_ann_ivf), and a
  *trained codebook* (``ivf_train_centroids``: distributed Lloyd — numpy
  assignment per Arrow batch, k×d partial-sum shuffle per iteration,
  driver state O(k·d) regardless of corpus size).
"""

from __future__ import annotations

import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nexus_event_stream_spark.functions.vectors import int_dot, quantize
from nexus_event_stream_spark.io import spread


def _quantized(
    embeddings: DataFrame, id_col: str, vec_col: str, *extra: str
) -> DataFrame:
    """Pre-quantize each vector ONCE and precompute its self-norm.

    Pair-quadratic operators must never re-quantize per pair — hoisting the
    per-vector work turns O(pairs·d) HOF evaluations into O(n·d) + a cheap
    integer dot per pair (~3× less lambda work, and the norms are free).
    """
    q = quantize(vec_col)
    return spread(embeddings).select(
        F.col(id_col),
        *extra,
        q.alias("__qv"),
        int_dot(q, q).cast("double").alias("__nn"),
    )


def _pair_cosine(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    # Same expression shape as functions.vectors.cosine_similarity —
    # exact integer dot, one double division → bit-identical results.
    return int_dot(qa, qb).cast("double") / F.sqrt(na * nb)


def brute_force_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one corpus vector.

    The 1-row query side is broadcast; the corpus side is a narrow scan —
    orderBy+limit plans as TakeOrderedAndProject (per-partition heaps).
    Output: vec_id, cosine.
    """
    t = _quantized(embeddings, id_col, vec_col)
    q = t.filter(F.col(id_col) == query_vec_id).select(
        F.col("__qv").alias("__q"), F.col("__nn").alias("__qn")
    )
    return (
        t.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            _pair_cosine(
                F.col("__qv"), F.col("__q"), F.col("__nn"), F.col("__qn")
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller over an LCG) —
    derived from the seed so every run/engine regenerates the same planes.
    """
    state = seed or 1
    def lcg() -> float:
        nonlocal state
        state = (6364136223846793005 * state + 1442695040888963407) % 2**63
        return (state >> 11) / float(2**52)

    planes: list[list[float]] = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            u1, u2 = max(lcg(), 1e-12), lcg()
            row.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(row)
    return planes


def seeded_codebook(dim: int, n_centroids: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic unit-norm codebook for the oracle-able IVF variant.

    Rows are Box-Muller pseudo-Gaussians (same LCG as ``_hyperplanes``)
    normalized to unit length — on a unit-vector corpus this yields a
    balanced spherical Voronoi partition without any training pass, and
    because the centroids are data-independent they can enter a SQL oracle
    as literals (exactly how q_ann_lsh ships its hyperplanes).
    """
    out = []
    for row in _hyperplanes(dim, n_centroids, seed):
        n = math.sqrt(sum(v * v for v in row)) or 1.0
        out.append([v / n for v in row])
    return out


def lit_matrix(rows: list[list[float]]) -> Column:
    """A 2-D double literal (array<array<double>>) shipped as ONE parsed
    SQL expression instead of rows×dim individual ``F.lit`` py4j calls —
    measured ~1 s of driver time per query build at 16×64. Values
    round-trip exactly: Python ``repr`` emits the shortest digits that
    re-parse to the same IEEE double, and Spark's ``...D`` literal parses
    with Java ``Double.parseDouble`` (same rounding rule)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{x!r}D" for x in row) + ")" for row in rows
        )
        + ")"
    )


def centroid_dots(vec_col: Column | str, codebook: list[list[float]]) -> Column:
    """Array of dot products against every codebook centroid (1-indexed
    downstream via array_position/posexplode+1). On a UNIT-NORM codebook,
    argmax dot ≡ argmin squared-L2 (|x−c|² = |x|² − 2⟨x,c⟩ + 1), so this
    is the nearest-centroid assignment at a third of the per-element
    arithmetic.

    Expressed as ONE nested HOF (transform over the 2-D literal codebook,
    aggregate inside) instead of k independent aggregate expressions:
    bit-identical results (the per-centroid fold is the same left-to-right
    ``aggregate``, and the outer transform preserves codebook order) but a
    k× smaller expression tree — measured ~0.6 s less analysis/codegen per
    action at k=16, d=64. ``vec_col`` should be a plain attribute: HOF
    lambdas get no common-subexpression elimination, so an inline
    expression would re-evaluate once per centroid."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    book2d = lit_matrix(codebook)
    return F.transform(
        book2d,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )


def srp_bucket(
    vec_col: Column | str, dim: int, bits: int = 8, seed: int = 42
) -> Column:
    """Sign-random-projection bucket id (0..2^bits-1) of an embedding.

    bit_j = [⟨v, plane_j⟩ ≥ 0]; all dot products are zip_with/aggregate
    expressions over literal plane arrays — fully JVM-side.
    """
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    planes = _hyperplanes(dim, bits, seed)
    # One nested HOF over the 2-D literal plane matrix (identical inner
    # fold as the per-plane formulation → bit-identical dots). The bit
    # packing stays INSIDE one zip_with/aggregate chain so the dots array
    # is evaluated exactly once (HOF lambdas get no CSE — reading it once
    # per bit would redo all bits·d work per bit). Summing the disjoint
    # powers of two is exact integer math → same bucket id as the
    # per-bit when-chain.
    dots = F.transform(
        lit_matrix(planes),
        lambda p: F.aggregate(
            F.zip_with(v, p, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )
    powers = F.expr(
        "array(" + ",".join(f"{2**j}L" for j in range(bits)) + ")"
    )
    return F.aggregate(
        F.zip_with(
            dots,
            powers,
            lambda d, p: F.when(d >= 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )


def ann_topk_per_vector(
    embeddings: DataFrame,
    dim: int,
    k: int = 1,
    bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k neighbors for EVERY vector: bucket by SRP, exact
    cosine re-rank within buckets only.

    One shuffle on the bucket id; pair space is Σ bucket² instead of n².
    ``multiprobe`` is the standard recall dial: each vector additionally
    probes every bucket at Hamming distance 1 (the buckets a near-miss
    sign bit would have landed it in) — candidate sets grow ≤ (bits+1)×,
    recall strictly improves (candidate supersets), and the plan shape is
    unchanged: the probe side explodes its bucket list, the build side
    still holds one bucket per vector, so the join stays a single
    equi-join on the bucket id.

    ``max_bucket_size`` is the hot-bucket skew cap: a near-duplicate-heavy
    corpus (or any dense cluster) piles thousands of vectors into one SRP
    bucket, and the bucket self-join goes quadratic on exactly that key.
    With the cap set, the BUILD side of the join keeps only the
    ``max_bucket_size`` smallest ids per bucket (deterministic
    truncation); the probe side is untouched, so every vector still gets
    ranked — against ≤ cap candidates per probed bucket instead of the
    whole bucket. Candidate bound: n·(probes)·cap; recall inside hot
    buckets degrades gracefully (near-dup members score ≈ identically).
    Default None = exact in-bucket ranking (the value-oracled catalog
    path). Output: vec_id, neighbor_id, cosine, rank.
    """
    q = quantize(vec_col)
    # Both self-join sides consume this relation; AQE broadcasts the join,
    # so without a persist the quantize + bits·d SRP dot products run twice
    # per vector. Evictable MEMORY_AND_DISK; one int array + bucket per row.
    b = (
        spread(embeddings)
        .select(
            F.col(id_col),
            q.alias("__qv"),
            int_dot(q, q).cast("double").alias("__nn"),
            srp_bucket(vec_col, dim, bits, seed).alias("__bucket"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if multiprobe:
        probes = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(2**j)).cast("bigint")
                for j in range(bits)
            ],
        )
        lhs = b.select(
            F.col(id_col),
            "__qv",
            "__nn",
            F.explode(probes).alias("__bucket"),
        ).alias("l")
    else:
        lhs = b.alias("l")
    if max_bucket_size is not None:
        # Truncate only the build side: per bucket keep the cap smallest
        # ids (row_number over the join key — co-partitioned with the
        # join's own shuffle). Hot buckets can no longer multiply.
        wb = Window.partitionBy("__bucket").orderBy(F.asc(id_col))
        rhs = (
            b.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
            .alias("r")
        )
    else:
        rhs = b.alias("r")
    pairs = lhs.join(
        rhs,
        (F.col("l.__bucket") == F.col("r.__bucket"))
        & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias("vec_id"),
        F.col(f"r.{id_col}").alias("neighbor_id"),
        _pair_cosine(
            F.col("l.__qv"), F.col("r.__qv"), F.col("l.__nn"), F.col("r.__nn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 10,
    seed: int = 42,
    init_cap: int = 1024,
    vec_col: str = "embedding",
):
    """Train an IVF coarse quantizer: DISTRIBUTED Lloyd iterations.

    Each iteration: executors assign their Arrow batches to the nearest
    centroid with one numpy (batch×k) distance matrix and emit per-batch
    partial sums flattened to (centroid, dim, sum, count) rows — k·d rows
    per batch, combined map-side — then one tiny shuffle aggregates them
    and the driver updates k·d cells. Driver memory is O(k·d) and per-
    iteration network is O(k·d·partitions) no matter the corpus size (the
    round-1 version collected a 20k-row sample and looped on the driver —
    bounded, but the only driver-side compute in the repo and its worst
    bench entry).

    Trained centroids are BIT-DETERMINISTIC across runs, partitionings,
    and Arrow batch sizes (the repo's identical-fold-order convention):
    each coordinate is quantized to int64 fixed-point (scale 2^24) per
    ELEMENT before any summation, so every partial/final sum is exact
    integer arithmetic — associative and commutative, immune to combine
    order — and the float division back happens once, on the driver, from
    identical integers. Assignment is per-row float math against the same
    frozen centroid matrix, also partition-independent. Quantization error
    (≤2^-25 per coordinate) is far below Lloyd's convergence tolerance;
    headroom: |coord|≤2^9 and n≤2^30 rows/cluster stay within int64.

    Init is evenly spaced rows of a bounded prefix (≤ init_cap rows, one
    short-circuiting CollectLimit scan) — deterministic, no RNG; ``seed``
    kept for call-site stability. Empty clusters keep their previous
    centroid. Returns a (k×d) float64 ndarray.
    """
    import numpy as np

    fp_scale = float(1 << 24)
    x0 = np.array(
        [r[0] for r in embeddings.select(vec_col).limit(init_cap).collect()],
        dtype=np.float64,
    )
    idx = np.linspace(0, len(x0) - 1, n_centroids).astype(int)
    cents = x0[idx].copy()
    k, d = cents.shape
    partial_schema = T.StructType(
        [
            T.StructField("c", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    src = spread(embeddings).select(vec_col)
    dims = list(range(d))
    for _ in range(iters):
        cc = cents.copy()  # freeze this iteration's centroids in the closure

        def partials(batches, cc=cc):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                assign = (
                    ((m[:, None, :] - cc[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                )
                mq = np.rint(m * fp_scale).astype(np.int64)
                rows: dict[str, list] = {"c": [], "dim": [], "s": [], "cnt": []}
                for c in range(k):
                    members = mq[assign == c]
                    if not len(members):
                        continue
                    s = members.sum(axis=0, dtype=np.int64)
                    rows["c"].extend([c] * d)
                    rows["dim"].extend(dims)
                    rows["s"].extend(s.tolist())
                    rows["cnt"].extend([len(members)] * d)
                yield pd.DataFrame(rows)

        agg = (
            src.mapInPandas(partials, partial_schema)
            .groupBy("c", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        for r in agg:
            if r["cnt"]:
                cents[r["c"], r["dim"]] = r["s"] / fp_scale / r["cnt"]
    return cents


def ivf_assign(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (inverted lists).

    mapInPandas + numpy: one (batch×k) distance matrix per Arrow batch.
    Output: id, centroid_id (+ the vector when ``include_vec`` — lets a
    downstream re-rank avoid a join back to the corpus, i.e. one scan and
    no shuffle-by-id). Persist/partition by centroid_id to serve probes
    without touching other lists.
    """
    import numpy as np

    cents = centroids.copy()
    fields = [
        T.StructField(id_col, T.LongType()),
        T.StructField("centroid_id", T.IntegerType()),
    ]
    if include_vec:
        fields.append(T.StructField(vec_col, T.ArrayType(T.DoubleType())))
    out_schema = T.StructType(fields)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            d2 = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            out = {
                id_col: pdf[id_col],
                "centroid_id": d2.argmin(axis=1).astype("int32"),
            }
            if include_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    return spread(embeddings).select(id_col, vec_col).mapInPandas(assign, out_schema)


def ivf_topk(
    embeddings: DataFrame,
    centroids,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe only the nprobe nearest inverted lists per query,
    exact cosine re-rank within them.

    Probing cost is corpus_size · (nprobe / n_centroids) instead of the
    full scan — the standard recall/throughput dial. nprobe = n_centroids
    degenerates to exact brute force.

    Shape: ONE Python stage (the numpy list assignment, vectors riding
    along via include_vec), then broadcast joins of the tiny probe map and
    query vectors, then the quantized-integer cosine expression — the same
    deterministic math as brute_force_topk, so IVF at full probe agrees
    with the exact baseline bit-for-bit. The corpus is scanned exactly
    once; only candidate rows are scored.
    Output: query_id, vec_id, cosine, rank.
    """
    import numpy as np

    spark = embeddings.sparkSession
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    d2 = ((qmat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probes = [
        (int(q[0]), [int(c) for c in row.argsort()[:nprobe]])
        for q, row in zip(queries, d2)
    ]
    probe_df = F.broadcast(
        spark.createDataFrame(
            [(qid, c) for qid, cs in probes for c in cs],
            "query_id long, centroid_id int",
        )
    )
    qvec_df = F.broadcast(
        spark.createDataFrame(
            [(int(qid), [float(x) for x in vec]) for qid, vec in queries],
            "query_id long, __qvec array<double>",
        )
    )
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col, include_vec=True)
    cand = assigned.join(probe_df, "centroid_id").join(qvec_df, "query_id")
    qv, qq = quantize(vec_col), quantize("__qvec")
    scored = cand.select(
        "query_id",
        id_col,
        _pair_cosine(
            qv, qq, int_dot(qv, qv).cast("double"), int_dot(qq, qq).cast("double")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.filter(F.col("query_id") != F.col(id_col))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def exact_top1_per_vector_blocked(
    embeddings: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int | None = None,
) -> DataFrame:
    """Exact nearest neighbor per vector within a blocking column —
    embedding-cosine near-dup building block (quantized → oracle-able).

    ``max_block_size`` is the hot-block skew cap (same recipe as the SRP
    bucket cap): the build side of the self-join keeps only the cap
    smallest ids per block, so one degenerate block cannot go quadratic
    — every vector still gets a neighbor, ranked against ≤ cap
    candidates (exact within blocks of size ≤ cap; approximate inside
    hot blocks — there, switch to ann_topk_per_vector when exactness
    matters). Default None = exact (the value-oracled catalog path).
    Output: vec_id, nn_id, cosine.
    """
    # Persist: the quantized relation feeds both self-join sides (see
    # ann_topk_per_vector) — without it the quantize pass runs twice.
    t = _quantized(embeddings, id_col, vec_col, block_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = t.alias("a")
    if max_block_size is not None:
        wb = Window.partitionBy(block_col).orderBy(F.asc(id_col))
        b = (
            t.withColumn("__rn", F.row_number().over(wb))
            .filter(F.col("__rn") <= max_block_size)
            .drop("__rn")
            .alias("b")
        )
    else:
        b = t.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("vec_id"),
        F.col(f"b.{id_col}").alias("nn_id"),
        _pair_cosine(
            F.col("a.__qv"), F.col("b.__qv"), F.col("a.__nn"), F.col("b.__nn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nn_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ANN for corpora whose float vectors don't fit
# ---------------------------------------------------------------------------


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 8,
    init_cap: int = 1024,
    vec_col: str = "embedding",
):
    """Train product-quantization codebooks: the vector space is split
    into ``m`` subspaces of d/m dims and each subspace gets its own
    ``ksub``-centroid quantizer (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011 — the public formulation every
    PQ implementation follows). A vector then compresses to m small codes
    (m bytes at ksub≤256): the representation that lets a 100 TB float
    corpus's ANN index live in executor memory.

    Distributed Lloyd over ALL subspaces in one pass per iteration —
    executors emit quantized-integer partial sums keyed
    (subspace, centroid, dim), exactly the ivf_train_centroids recipe, so
    codebooks are bit-deterministic across partitionings. Driver state is
    O(m·ksub·d/m) = O(ksub·d). Vectors are L2-normalized first (cosine
    search: squared L2 on the unit sphere is 2−2·cos, so PQ's natural
    L2 machinery ranks by cosine).

    Returns an (m, ksub, d/m) float64 ndarray.
    """
    import numpy as np

    fp_scale = float(1 << 24)
    x0 = np.array(
        [r[0] for r in embeddings.select(vec_col).limit(init_cap).collect()],
        dtype=np.float64,
    )
    x0 = x0 / np.maximum(np.linalg.norm(x0, axis=1, keepdims=True), 1e-12)
    d = x0.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    idx = np.linspace(0, len(x0) - 1, ksub).astype(int)
    books = np.stack(
        [x0[idx, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )  # (m, ksub, dsub)

    partial_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("c", T.IntegerType()),
            T.StructField("dim", T.IntegerType()),
            T.StructField("s", T.LongType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    src = spread(embeddings).select(vec_col)
    for _ in range(iters):
        bb = books.copy()

        def partials(batches, bb=bb):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                x = x / np.maximum(
                    np.linalg.norm(x, axis=1, keepdims=True), 1e-12
                )
                rows: dict[str, list] = {
                    "sub": [], "c": [], "dim": [], "s": [], "cnt": []
                }
                for s_i in range(m):
                    xs = x[:, s_i * dsub : (s_i + 1) * dsub]
                    d2 = ((xs[:, None, :] - bb[s_i][None, :, :]) ** 2).sum(
                        axis=2
                    )
                    assign = d2.argmin(axis=1)
                    xq = np.rint(xs * fp_scale).astype(np.int64)
                    for c in range(ksub):
                        members = xq[assign == c]
                        if not len(members):
                            continue
                        sums = members.sum(axis=0, dtype=np.int64)
                        rows["sub"].extend([s_i] * dsub)
                        rows["c"].extend([c] * dsub)
                        rows["dim"].extend(range(dsub))
                        rows["s"].extend(sums.tolist())
                        rows["cnt"].extend([len(members)] * dsub)
                yield pd.DataFrame(rows)

        agg = (
            src.mapInPandas(partials, partial_schema)
            .groupBy("sub", "c", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        for r in agg:
            if r["cnt"]:
                books[r["sub"], r["c"], r["dim"]] = r["s"] / fp_scale / r["cnt"]
    return books


def pq_build_index(
    embeddings: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistent IVF-PQ index relation: one Arrow stage mapping each
    vector to (id, coarse centroid_id, m PQ codes) — m small ints per
    vector, the thing a deployment writes once (partitioned by
    centroid_id for list-pruned scans) and searches forever. Passing the
    persisted result as ``ivf_pq_topk(index=...)`` skips the rebuild on
    every search."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, _ksub, dsub = books.shape
    index_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def build_index(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            cid = (
                ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                .argmin(axis=1)
                .astype("int32")
            )
            codes = np.stack(
                [
                    ((xn[:, s * dsub : (s + 1) * dsub][:, None, :] - books[s][None, :, :]) ** 2)
                    .sum(axis=2)
                    .argmin(axis=1)
                    for s in range(m)
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": cid,
                    "codes": list(codes.astype("int32")),
                }
            )

    return (
        spread(embeddings)
        .select(id_col, vec_col)
        .mapInPandas(build_index, index_schema)
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    centroids,
    codebooks,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search: probe nprobe inverted lists, scan them by ADC over
    the PQ codes, exact-cosine re-rank only the shortlist.

    The memory-bounded ANN tier: between the coarse probe and the exact
    re-rank sits the asymmetric-distance scan — each query precomputes an
    (m × ksub) table of squared distances from its subvectors to every
    codebook entry, and a candidate's approximate distance is m table
    lookups summed, touching only its m-byte code, never its floats. The
    full float vectors are fetched (one join by id) for the
    shortlist·|queries| survivors ONLY — so executor memory holds codes,
    not the corpus.

    Shape: one Python stage builds the PQ index rows (centroid_id +
    codes) — or ``index`` supplies a prebuilt/persisted ``pq_build_index``
    relation and the rebuild is skipped — the tiny probe map
    broadcast-joins candidates, one Arrow ADC stage scores them, a
    per-query window keeps the shortlist, and the broadcast shortlist
    joins back to the corpus scan for the exact quantized-integer
    cosine — deterministic ties (adc, then id; cosine, then id) end to
    end.
    Output: query_id, vec_id, cosine, rank (1 = best).
    """
    import numpy as np

    spark = embeddings.sparkSession
    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # per-query ADC tables: (nq, m, ksub)
    tables = np.stack(
        [
            ((qn[:, s * dsub : (s + 1) * dsub][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            for s in range(m)
        ],
        axis=1,
    )
    qids = [int(q[0]) for q in queries]
    qid_pos = {qid: i for i, qid in enumerate(qids)}

    d2q = ((qmat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    probe_df = F.broadcast(
        spark.createDataFrame(
            [
                (qid, int(c))
                for qid, row in zip(qids, d2q)
                for c in row.argsort()[:nprobe]
            ],
            "query_id long, centroid_id int",
        )
    )

    # stage 1: the PQ index relation — what a deployment would persist
    if index is None:
        index = pq_build_index(embeddings, cents, books, id_col, vec_col)
    cand = index.join(probe_df, "centroid_id")

    # stage 2: ADC scan — m table lookups per candidate, fully vectorized
    adc_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def adc_scan(batches):
        import pandas as pd

        subs = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            qpos = np.array(
                [qid_pos[q] for q in pdf["query_id"]], dtype=np.int64
            )
            dist = tables[qpos[:, None], subs[None, :], codes].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    id_col: pdf[id_col],
                    "adc": dist,
                }
            )

    wa = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc(id_col))
    short = (
        cand.mapInPandas(adc_scan, adc_schema)
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn("__ar", F.row_number().over(wa))
        .filter(F.col("__ar") <= shortlist)
        .select("query_id", id_col)
    )

    # stage 3: exact re-rank of shortlist·|queries| rows only
    qvec_df = F.broadcast(
        spark.createDataFrame(
            [(qid, [float(x) for x in vec]) for qid, vec in queries],
            "query_id long, __qvec array<double>",
        )
    )
    rerank = (
        embeddings.select(id_col, vec_col)
        .join(F.broadcast(short), id_col)
        .join(qvec_df, "query_id")
    )
    qv, qq = quantize(vec_col), quantize("__qvec")
    scored = rerank.select(
        "query_id",
        id_col,
        _pair_cosine(
            qv,
            qq,
            int_dot(qv, qv).cast("double"),
            int_dot(qq, qq).cast("double"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
