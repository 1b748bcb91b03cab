"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force exact top-k against a query vector. The dot
  product is integer-quantized (floor(x·1e6)) so scores are bit-identical
  across engines (all intermediates are integers < 2^53 — exact in either
  integer or float arithmetic, order-independent). JVM-side higher-order
  functions only; Catalyst constant-folds the query-vector literal.

* ``lsh_ann_topk`` — the scale path: BucketedRandomProjectionLSH buckets, then
  exact re-rank inside candidate buckets. Sub-linear candidate set at 100 TB;
  brute force stays as the recall baseline.

* ``ivf_topk`` — IVF: seeded pyspark.ml KMeans coarse quantizer, probe the
  nearest ``n_probe`` centroid buckets only, exact re-rank inside them.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import index_lifecycle

QUANT = 1_000_000  # 1e6 quantization — see module docstring

# semanticHash -> corpus elems count for cosine_pairs_gemm's kernel selection
# (decision-only; mirrors dedup._JACCARD_STATS_CACHE)
_COSINE_STATS_CACHE: dict[int, int] = {}


def _quant_dot_literal(vec_col, q: list[float]):
    """Σ floor(a_i·1e6)·floor(q_i·1e6) as exact integers."""
    qints = [int(math.floor(float(x) * QUANT)) for x in q]
    return F.aggregate(
        F.zip_with(
            vec_col,
            # one array<long> literal (single py4j call) — building it as
            # F.array(64 × F.lit) cost ~65 driver round trips per query build
            F.lit(qints),
            lambda a, qv: F.floor(a.cast("double") * QUANT).cast("long") * qv.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _quant_norm2(vec_col):
    return F.aggregate(
        vec_col,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * QUANT).cast("long")
        * F.floor(x.cast("double") * QUANT).cast("long"),
    )


def _cosine_scores_reference(df: DataFrame, vec_col: str, query: list[float]) -> DataFrame:
    """Column-method construction of ``cosine_scores`` — kept as the tests'
    reference implementation (tests/test_operators.py pins exact result
    equality against the SQL-text build below)."""
    qn2 = sum(int(math.floor(float(x) * QUANT)) ** 2 for x in query)
    return df.withColumn(
        "cosine",
        _quant_dot_literal(F.col(vec_col), query).cast("double")
        / (F.sqrt(_quant_norm2(F.col(vec_col)).cast("double")) * F.lit(math.sqrt(qn2))),
    )


def cosine_scores(df: DataFrame, vec_col: str, query: list[float]) -> DataFrame:
    """All rows scored: cosine = qdot / (sqrt(qnorm2)·sqrt(norm2)) on the
    quantized grid — deterministic to the bit.

    Built as ONE SQL expression string (r13): the Column/lambda construction
    of the two higher-order aggregates cost ~45 py4j round trips per build
    (~0.12 s on local[32], re-paid by every probe query and ANN re-rank);
    the text form is a single round trip. The arithmetic is identical op for
    op — all-integer until the final double division, with the query-side
    constants (quantized ints, √qnorm2) embedded via exact repr — so scores
    are bit-equal to the reference construction (pinned by
    tests/test_operators.py::test_cosine_scores_expr_matches_reference)."""
    qints = [int(math.floor(float(x) * QUANT)) for x in query]
    qn2 = sum(v * v for v in qints)
    arr = "array(" + ",".join(f"{v}L" for v in qints) + ")"
    dot = (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x_1, y_2) -> CAST(FLOOR(CAST(x_1 AS DOUBLE) * {QUANT}) AS BIGINT) * CAST(y_2 AS BIGINT)), "
        f"CAST(0 AS BIGINT), (x_3, y_4) -> x_3 + y_4)"
    )
    n2 = (
        f"aggregate({vec_col}, CAST(0 AS BIGINT), "
        f"(x_5, y_6) -> x_5 + CAST(FLOOR(CAST(y_6 AS DOUBLE) * {QUANT}) AS BIGINT)"
        f" * CAST(FLOOR(CAST(y_6 AS DOUBLE) * {QUANT}) AS BIGINT))"
    )
    return df.withColumn(
        "cosine",
        F.expr(
            f"CAST({dot} AS DOUBLE) / (SQRT(CAST({n2} AS DOUBLE)) * {math.sqrt(qn2)!r}D)"
        ),
    )


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact brute-force top-k (TakeOrderedAndProject — per-partition heaps,
    no global sort)."""
    return (
        cosine_scores(df, vec_col, query)
        .select(F.col(id_col), F.col("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_pairs(df: DataFrame, vec_col: str, id_col: str, threshold: float) -> DataFrame:
    """All-pairs cosine ≥ threshold on the quantized integer grid (embedding
    near-dup dedup). O(n²) exact baseline — the LSH bucketing below is the
    corpus-scale path; per-element products stay < 2^53 so the fold is exact
    and order-free on any engine."""
    quant = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: F.floor(x.cast("double") * QUANT).cast("long")).alias(
            "qv"
        ),
    ).withColumn(
        "n2", F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    )
    a = quant.select(F.col("id").alias("id_a"), F.col("qv").alias("qv_a"), F.col("n2").alias("n2_a"))
    b = quant.select(F.col("id").alias("id_b"), F.col("qv").alias("qv_b"), F.col("n2").alias("n2_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("qv_a", "qv_b", lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            (dot.cast("double") / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double")))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _cosine_gemm_broadcast(
    quant: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Broadcast form of the blocked cosine GEMM (broadcast-join-selection
    analog, see dedup._jaccard_gemm_broadcast): the quantized matrix ships
    once per executor, the shuffle carries only block-pair ids. Bit-identical
    to the shuffle path — same integer grid, same float64 division."""
    import numpy as np
    import pyarrow.compute as pc

    # Arrow collect (guarded by the caller's size check): columnar transfer +
    # a single reshape instead of pickled Rows and a per-row np.asarray loop
    # (r13: the row collect was the operator's largest per-run constant).
    tbl = quant.toArrow()
    ids = tbl.column("id").to_numpy().astype(np.int64, copy=False)
    qv_col = tbl.column("qv").combine_chunks()
    lens = pc.list_value_length(qv_col).to_numpy()
    flat = qv_col.flatten().to_numpy().astype(np.float64, copy=False)
    if len(lens) and lens.min() == lens.max():
        mat = flat.reshape(len(lens), int(lens[0]))
    else:  # ragged dims (not the testdata shape): split at list offsets
        mat = np.array(np.split(flat, np.cumsum(lens)[:-1]), dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in mat]) if len(lens) else flat.reshape(0, 0)
    block_of = (ids % n_blocks).astype(np.int64)
    spark = quant.sparkSession
    bc = spark.sparkContext.broadcast(
        {
            "ids": ids,
            "mat": mat,
            "norm": np.sqrt((mat * mat).sum(axis=1)),
            "by_block": {
                int(b): np.nonzero(block_of == b)[0] for b in range(n_blocks)
            },
        }
    )

    pairs = [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j]

    def run_pairs(batches):
        import pyarrow as pa

        # this closure references no package global, so unpickling it does not
        # import the package — install the per-task boundary guard explicitly
        # (idempotent, soft: never fail the kernel for an optimization;
        # see pyboundary.py)
        try:
            from snapshot_sender_spark.pyboundary import install_zipimport_guard

            install_zipimport_guard()
        except Exception:
            pass
        d = bc.value
        for batch in batches:
            outs = []
            for pid in batch.column(0).to_pylist():
                bi, bj = pairs[pid]
                sa = d["by_block"].get(int(bi), np.empty(0, dtype=np.int64))
                sb = d["by_block"].get(int(bj), np.empty(0, dtype=np.int64))
                if not len(sa) or not len(sb):
                    continue
                cos = (d["mat"][sa] @ d["mat"][sb].T) / (
                    d["norm"][sa][:, None] * d["norm"][sb][None, :]
                )
                ids_a, ids_b = d["ids"][sa], d["ids"][sb]
                if bi == bj:
                    mask = (cos >= threshold) & (ids_a[:, None] < ids_b[None, :])
                else:
                    mask = cos >= threshold
                ra, cb = np.nonzero(mask)
                if len(ra):
                    outs.append((np.minimum(ids_a[ra], ids_b[cb]),
                                 np.maximum(ids_a[ra], ids_b[cb]),
                                 cos[ra, cb]))
            if outs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate([o[0] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[1] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[2] for o in outs]), type=pa.float64()),
                    ],
                    names=["id_a", "id_b", "cosine"],
                )

    # task source: JVM-only range of pair ids (dedup._pair_task_source); one
    # Arrow crossing, no pickled-RDD scan stage, no repartition exchange
    from .dedup import _pair_task_source

    pair_df = _pair_task_source(spark, len(pairs))
    return pair_df.mapInArrow(run_pairs, schema="id_a long, id_b long, cosine double")


def cosine_pairs_gemm(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_blocks: int = 8,
    broadcast_max_elems: int = 16_000_000,
) -> DataFrame:
    """Blocked-GEMM form of ``cosine_pairs`` — result-identical (same quantized
    integer grid), O(n²·d) done as float64 matrix products instead of per-pair
    expression folds. Quantized products ≤ 1e12 and 64-dim sums ≤ 6.4e13 stay
    below 2^53, so the float64 GEMM is exact and order-free; the final division
    is float64 on identical values → bit-equal to the fold and the SQL oracle.

    Distribution: same blocked pattern as dedup.ngram_jaccard_pairs_gemm —
    every block pair is one applyInPandas task; the pair space exists only
    inside the kernel."""
    import numpy as np
    import pandas as pd

    quant = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: F.floor(x.cast("double") * QUANT).cast("long")).alias(
            "qv"
        ),
    )
    # Strategy-selection statistic, memoized per logical plan (semanticHash)
    # exactly like dedup._JACCARD_STATS_CACHE: the role of cached table stats
    # in a CBO — decision quality only, every strategy is result-identical.
    cache_key = None
    try:
        cache_key = quant.semanticHash()
    except Exception:
        pass
    if cache_key is not None and cache_key in _COSINE_STATS_CACHE:
        elems = _COSINE_STATS_CACHE[cache_key]
    else:
        elems = quant.agg(F.sum(F.size("qv")).alias("elems")).first()["elems"] or 0
        if cache_key is not None:
            if len(_COSINE_STATS_CACHE) >= 256:
                _COSINE_STATS_CACHE.clear()
            _COSINE_STATS_CACHE[cache_key] = elems
    if elems <= broadcast_max_elems:
        return _cosine_gemm_broadcast(quant, threshold, n_blocks)
    quant = quant.withColumn("block", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
    pair_rows = [
        (i, j, s, i if s == "a" else j)
        for i in range(n_blocks)
        for j in range(n_blocks)
        if i <= j
        for s in ("a", "b")
    ]
    assign = df.sparkSession.createDataFrame(pair_rows, "bi int, bj int, side string, block int")
    grouped = quant.join(F.broadcast(assign), "block").repartition("bi", "bj")

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["side"] == "a"]
        b = pdf[pdf["side"] == "b"]
        same_block = pdf["bi"].iat[0] == pdf["bj"].iat[0]
        if same_block:
            b = a
        if a.empty or b.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cosine"])
        ma = np.array([np.asarray(v, dtype=np.float64) for v in a["qv"]])
        mb = np.array([np.asarray(v, dtype=np.float64) for v in b["qv"]])
        dots = ma @ mb.T  # exact: integer-valued floats < 2^53
        na = np.sqrt((ma * ma).sum(axis=1))[:, None]
        nb = np.sqrt((mb * mb).sum(axis=1))[None, :]
        cos = dots / (na * nb)
        ids_a = a["id"].to_numpy()
        ids_b = b["id"].to_numpy()
        if same_block:
            mask = (cos >= threshold) & (ids_a[:, None] < ids_b[None, :])
        else:
            mask = cos >= threshold
        ra, cb = np.nonzero(mask)
        lo = np.minimum(ids_a[ra], ids_b[cb])
        hi = np.maximum(ids_a[ra], ids_b[cb])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ra, cb]})

    return grouped.groupBy("bi", "bj").applyInPandas(
        lambda _, pdf: gemm(pdf), schema="id_a long, id_b long, cosine double"
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    canonical_fit: bool = False,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer (pyspark.ml, seeded) assigns
    every vector to a centroid bucket; the query probes only the ``n_probe``
    nearest centroids and exact-rescoring runs inside those buckets. At corpus
    scale the bucket assignment is a partition key, so a probe touches
    n_probe/n_centroids of the data — the standard IVF recall/cost dial.

    ``canonical_fit=True`` trains the quantizer on an id-ordered single
    partition: k-means|| samples with per-partition seeded RNGs and sums
    update vectors in partition order, so the CENTROIDS (and hence the whole
    probe result) become a pure function of (data set, seed) — the
    order-canonicalization lane that makes the query golden-pinnable.
    Bucket assignment, probing and re-ranking stay fully distributed; only
    the O(sample·iters) quantizer fit is serialized, which at real scale is
    run on a sample anyway (the persisted-index path in ``ivf_index``)."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="features", predictionCol="bucket")
    fit_input = feats.orderBy("id").coalesce(1) if canonical_fit else feats
    model = km.fit(fit_input)
    assigned = model.transform(feats)
    centers = model.clusterCenters()
    qd = [float(x) for x in query]

    def dist2(c):
        return sum((a - b) ** 2 for a, b in zip(c, qd))

    probe = sorted(range(len(centers)), key=lambda i: dist2(centers[i]))[:n_probe]
    candidates = assigned.filter(F.col("bucket").isin([int(b) for b in probe]))
    rescored = cosine_scores(candidates.select("id", "arr"), "arr", qd)
    return rescored.select("id", "cosine").orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def lsh_ann_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
    num_candidates: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate NN via random-projection LSH; exact cosine re-rank on the
    candidate set. Returns (id, cosine) — approximate recall, deterministic
    given the seed.

    ``num_candidates`` is the over-retrieve budget — the recall dial, NOT
    bucket geometry: ``approxNearestNeighbors`` cuts the bucket-collision set
    to this many by Euclidean distance with an ARBITRARY order inside
    distance ties, and a near-dup corpus has tie classes (clusters of
    near-identical vectors) wider than the round-4 k×4 budget — measured
    recall@10 collapsed to 0.475 at 200k vectors and recovered to 1.000 at
    budget 200 (re-measured round 6: recall stays 1.000 at 200k for every
    bucket_length in [0.5, 2.0], so the geometry dial was a red herring —
    SCALE.md). The exact re-rank then breaks ties deterministically by
    (cosine DESC, id ASC), so once the tie class fits the budget the result
    is stable.

    Default budget AUTO-SCALES with the corpus: max(k·20, 200, n/1000) —
    tie-class width grows with corpus density, so a fixed budget that is
    right at 200k vectors would silently under-retrieve at 20M. n comes
    from ``corpus_count`` when the caller already knows it, else one
    df.count() job; that is a real scan when ``df`` carries filters, but it
    is marginal next to the LSH fit + approxNearestNeighbors passes over
    the same corpus that follow it. Pass an explicit ``num_candidates`` to
    skip the sizing entirely."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    feats = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feats)
    qv = Vectors.dense([float(x) for x in query])
    if num_candidates is not None:
        budget = num_candidates
    else:
        n = corpus_count if corpus_count is not None else df.count()
        budget = max(k * 20, 200, n // 1000)
    candidates = model.approxNearestNeighbors(feats, qv, budget)
    rescored = cosine_scores(candidates.select("id", F.col("arr")), "arr", query)
    return rescored.select("id", "cosine").orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def lsh_batch_topk(
    corpus_df: DataFrame,
    queries_df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id_col: str,
    k: int = 10,
    max_distance: float = 10.0,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Batch multi-query ANN: ONE ``approxSimilarityJoin`` between the whole
    query set and the corpus, then per-query exact cosine re-rank and window
    top-k. Returns (query_id, id, cosine, rank).

    This is the retrieval-workload shape ``approxNearestNeighbors`` can't do:
    that API rescans the corpus per query vector (driver loop, Q jobs); here
    Q×N candidate generation is a single LSH-bucketed join — both sides hash
    with the same fitted model, candidates are hash-bucket collisions within
    ``max_distance``, and the pair stream is pruned to top-k inside a window
    (WindowGroupLimit pushes the k-cut before the final sort). At 100 TB the
    join shuffles only (hash, id, vec) pairs and the per-query state is k
    rows."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    corpus = corpus_df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    queries = queries_df.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qarr")
    ).withColumn("features", array_to_vector(F.col("qarr").cast("array<double>")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(corpus)
    joined = model.approxSimilarityJoin(queries, corpus, max_distance, distCol="dist")
    pairs = joined.select(
        F.col("datasetA.query_id").alias("query_id"),
        F.col("datasetB.id").alias("id"),
        F.col("datasetA.qarr").alias("qarr"),
        F.col("datasetB.arr").alias("arr"),
    )
    # exact re-rank on the quantized integer grid (same arithmetic as
    # cosine_topk, so recall against the brute-force baseline is well-defined)
    qint = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )
    dot = F.aggregate(
        F.zip_with(qint(F.col("qarr")), qint(F.col("arr")), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = lambda col: F.aggregate(  # noqa: E731
        qint(col), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    scored = pairs.select(
        "query_id",
        "id",
        (
            dot.cast("double")
            / (F.sqrt(n2(F.col("qarr")).cast("double")) * F.sqrt(n2(F.col("arr")).cast("double")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "cosine", "rank")
    )


def quantize_int8_arrow(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization via ``mapInArrow`` — the
    embedding-compression step of a training-data pipeline (4× smaller than
    float32, 8× than float64, before ANN indexing or storage).

    Arrow-native path: batches arrive as pyarrow RecordBatches, the kernel is
    vectorized numpy over the flattened list buffer — no per-row Python, no
    pandas conversion. Per vector: scale = 127/max|x|, q_i = floor(x_i·scale)
    (floor, not round — bit-portable, see queries/__init__). Emits
    (id, scale, qsum, qmin, qmax) as the verifiable digest of the quantized
    vector; all-zero vectors are passed through with scale NULL.

    At 100 TB this runs embarrassingly parallel per batch with Arrow transfer
    only — the same kernel shape as the GEMM dedup operators.
    """
    import pyarrow as pa

    def quantize(batches):
        import numpy as np

        for batch in batches:
            ids = np.asarray(
                batch.column(batch.schema.get_field_index(id_col)), dtype=np.int64
            )
            lst = batch.column(batch.schema.get_field_index(vec_col))
            # zero-copy off the Arrow list buffer: flatten() honors slices/offsets
            flat = np.asarray(lst.flatten(), dtype=np.float64)
            offsets = np.asarray(lst.offsets, dtype=np.int64)
            offsets = offsets - offsets[0]  # flatten() already dropped the slice base
            lens = np.diff(offsets)
            n = len(ids)
            maxabs = np.zeros(n)
            nonempty = lens > 0
            if nonempty.any():
                # reduceat needs non-empty segments; compute on those only
                starts = offsets[:-1][nonempty]
                maxabs[nonempty] = np.maximum.reduceat(np.abs(flat), starts)
            safe = maxabs > 0
            scale_safe = np.where(safe, 127.0, 0.0) / np.where(safe, maxabs, 1.0)
            scale = np.where(safe, scale_safe, np.nan)  # emitted (NaN → null)
            q = np.floor(flat * np.repeat(scale_safe, lens)).astype(np.int64)
            qsum = np.zeros(n, dtype=np.int64)
            qmin = np.zeros(n, dtype=np.int64)
            qmax = np.zeros(n, dtype=np.int64)
            live = nonempty & (maxabs > 0)
            if live.any():
                starts = offsets[:-1][live]
                qsum[live] = np.add.reduceat(q, starts)
                qmin[live] = np.minimum.reduceat(q, starts)
                qmax[live] = np.maximum.reduceat(q, starts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(scale, pa.float64(), from_pandas=True),  # NaN → null
                    pa.array(qsum, pa.int64()),
                    pa.array(qmin, pa.int64()),
                    pa.array(qmax, pa.int64()),
                ],
                names=["id", "scale", "qsum", "qmin", "qmax"],
            )

    return df.select(
        F.col(id_col).alias(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInArrow(
        quantize, "id long, scale double, qsum long, qmin long, qmax long"
    )


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_dir: str,
    n_centroids: int = 16,
    seed: int = 42,
    train_fraction: float = 1.0,
    epoch: int | None = None,
) -> None:
    """Persist an IVF index instead of re-clustering per query: centroids to
    ``<dir>/centroids.parquet`` (tiny — driver-readable), vectors to
    ``<dir>/vectors/`` PARTITIONED BY bucket. Probing then reads only the
    probed buckets' directories — parquet partition pruning IS the IVF cost
    model (n_probe/n_centroids of the data per query), and the index is
    shared across queries/jobs like any table.

    ``train_fraction`` < 1 fits the coarse quantizer on a seeded sample and
    then assigns EVERY vector in one transform pass — the standard IVF
    practice (FAISS trains on ~30-256 points per centroid): quantizer
    quality needs a representative sample, not the corpus, while a full-
    corpus k-means at 10^9 vectors would dominate the build. Recall impact
    is measured, not assumed (tools/ann_recall.py, 2M-vector tier).

    ``epoch`` (not None) lays the vectors out partitioned by (bucket,
    epoch) instead of bucket alone — the CONTINUOUS-INGESTION layout:
    later epochs are added with ``append_ivf_index_epoch`` under the same
    frozen centroids, probes still prune on the leading bucket key, and an
    in-flight epoch can be excluded for crash-replay safety exactly as in
    the text/signature indexes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = df.sparkSession
    feats = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError("train_fraction must be in (0, 1]")
    train = feats
    if train_fraction < 1.0:
        train = feats.sample(train_fraction, seed=seed)
        # the quantizer needs at least n_centroids training points; a small
        # corpus with an aggressive fraction falls back to full-corpus fit
        # (cheap there by definition) instead of failing or degrading
        if train.limit(n_centroids).count() < n_centroids:
            train = feats
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="features", predictionCol="bucket"
    ).fit(train)
    centers = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(centers, "bucket int, center array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{index_dir}/centroids.parquet")
    assigned = model.transform(feats).select("id", "arr", "bucket")
    if epoch is None:
        assigned.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{index_dir}/vectors"
        )
    else:
        assigned.withColumn("epoch", F.lit(int(epoch))).write.mode(
            "overwrite"
        ).partitionBy("bucket", "epoch").parquet(f"{index_dir}/vectors")


def append_ivf_index_epoch(
    spark,
    index_dir: str,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    epoch: int,
) -> None:
    """REPLAY-IDEMPOTENT per-epoch append to a persisted IVF index built
    with an epoch layout (``build_ivf_index(epoch=...)``) — the standard IVF
    "add" path: the coarse quantizer is FROZEN (centroids unchanged; only
    the build trains), each new vector is assigned to its single nearest
    centroid via a broadcast join against the tiny centroid table
    (deterministic tie-break on bucket id), and the epoch's rows land under
    vectors/bucket=*/epoch=k via dynamic partition overwrite — a replayed
    epoch replaces its own partitions, never double-appends. Probes keep
    pruning on the leading bucket directory; ``exclude_epoch`` on
    ``ivf_batch_near_dup`` prunes an in-flight epoch."""
    from pyspark.sql import Window

    vec_schema = spark.read.parquet(f"{index_dir}/vectors").schema
    if "epoch" not in vec_schema.fieldNames():
        raise ValueError(
            "append_ivf_index_epoch needs an epoch-partitioned index "
            "(build_ivf_index(epoch=...)); this index has no epoch column"
        )
    centroids = spark.read.parquet(f"{index_dir}/centroids.parquet")
    newq = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("arr"))
    d2 = F.aggregate(
        F.zip_with(
            F.col("arr").cast("array<double>"),
            F.col("center"),
            lambda a, c: (a - c) * (a - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    by_dist = Window.partitionBy("id").orderBy("d2", "bucket")
    assigned = (
        newq.join(F.broadcast(centroids), how="cross")
        .withColumn("d2", d2)
        .withColumn("rk", F.row_number().over(by_dist))
        .filter(F.col("rk") == 1)
        .select("id", "arr", "bucket", F.lit(int(epoch)).alias("epoch"))
    )
    assigned.write.options(**index_lifecycle.DYNAMIC_OVERWRITE).mode(
        "overwrite"
    ).partitionBy("bucket", "epoch").parquet(f"{index_dir}/vectors")


def ivf_search_index(
    spark, index_dir: str, query: list[float], k: int = 10, n_probe: int = 4
) -> DataFrame:
    """Query a persisted IVF index: pick the n_probe nearest centroids on the
    driver (centroid table is tiny), then scan ONLY those bucket partitions
    (PartitionFilters on the vectors table) and exact-rescore with the same
    integer-quantized cosine as the exact path."""
    qd = [float(x) for x in query]
    centers = spark.read.parquet(f"{index_dir}/centroids.parquet").collect()

    def dist2(c):
        return sum((a - b) ** 2 for a, b in zip(c, qd))

    probe = sorted(centers, key=lambda r: dist2(r["center"]))[:n_probe]
    buckets = [int(r["bucket"]) for r in probe]
    vectors = spark.read.parquet(f"{index_dir}/vectors").filter(
        F.col("bucket").isin(buckets)
    )
    rescored = cosine_scores(vectors.select("id", "arr"), "arr", qd)
    return rescored.select("id", "cosine").orderBy(F.desc("cosine"), F.asc("id")).limit(k)


def ivf_batch_near_dup(
    spark,
    index_dir: str,
    new_df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_probe: int = 4,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """Cross-set embedding near-dup of an incoming batch against a persisted
    IVF index (the embedding analog of the text-side
    ``dedup.incremental_jaccard_against_index``): each new vector is assigned
    to its ``n_probe`` nearest centroids (broadcast join against the tiny
    centroid table, distances JVM-side), then ONLY those bucket partitions of
    the corpus vectors table are scanned (static partition pruning on the
    collected bucket set — O(n_centroids) driver state) and candidate pairs
    are exact-rescored on the same integer-quantized grid as ``cosine_pairs``.

    Returns (id_new, id_existing, cosine ≥ threshold). Recall follows IVF
    semantics: a qualifying pair is missed only if the existing vector's
    bucket is outside the new vector's probe set; ``n_probe = n_centroids``
    is exhaustive and exactly equals the brute-force cross join (pinned by
    test). Corpus vectors ship only from probed buckets to their candidate
    pairs; nothing corpus-sized broadcasts or crosses into Python."""
    from pyspark.sql import Window

    centroids = spark.read.parquet(f"{index_dir}/centroids.parquet")
    newq = new_df.select(
        F.col(id_col).alias("id_new"), F.col(vec_col).alias("arr_new")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("arr_new").cast("array<double>"),
            F.col("center"),
            lambda a, c: (a - c) * (a - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    by_dist = Window.partitionBy("id_new").orderBy("d2", "bucket")
    probes = (
        newq.join(F.broadcast(centroids), how="cross")
        .withColumn("d2", d2)
        .withColumn("rk", F.row_number().over(by_dist))
        .filter(F.col("rk") <= n_probe)
        .select("id_new", "arr_new", "bucket")
        # materialize once: the probe assignment (cross-join + window) feeds
        # BOTH the collected bucket set and the candidate pair join — without
        # this the whole assignment plan would run twice
        .localCheckpoint()
    )
    probed_buckets = [
        int(r["bucket"]) for r in probes.select("bucket").distinct().collect()
    ]
    corpus = spark.read.parquet(f"{index_dir}/vectors")
    if exclude_epoch is not None:
        # epoch-layout indexes only (build_ivf_index(epoch=...) + appends):
        # prune the in-flight epoch's partitions for crash-replay safety
        if "epoch" not in corpus.columns:
            raise ValueError(
                "exclude_epoch requires an epoch-partitioned IVF index; "
                f"{index_dir}/vectors has no epoch column"
            )
        corpus = corpus.filter(F.col("epoch") != F.lit(int(exclude_epoch)))
    vectors = (
        corpus.filter(F.col("bucket").isin(probed_buckets))
        .select(F.col("id").alias("id_existing"), F.col("arr").alias("arr_old"), "bucket")
    )

    def qvec(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("long"))

    def qnorm2(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda acc, x: acc + x * x)

    pairs = (
        probes.withColumn("qv_new", qvec(F.col("arr_new")))
        .withColumn("n2_new", qnorm2(F.col("qv_new")))
        .join(
            vectors.withColumn("qv_old", qvec(F.col("arr_old")))
            .withColumn("n2_old", qnorm2(F.col("qv_old"))),
            "bucket",
        )
    )
    dot = F.aggregate(
        F.zip_with("qv_new", "qv_old", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            "id_new",
            "id_existing",
            (
                dot.cast("double")
                / (
                    F.sqrt(F.col("n2_new").cast("double"))
                    * F.sqrt(F.col("n2_old").cast("double"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_clusters: int = 8,
    seed: int = 42,
    canonical_fit: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): KMeans-cluster the embeddings, compute exact cosine pairs ONLY
    within clusters (pair space = Σ cluster_size², never n²), union the
    ≥ threshold pairs into connected components, and keep the minimum id per
    component. Returns (id, keeper_id) for every input row — keeper_id = id
    for uniques, component-min for duplicates.

    Scale shape: clustering is the standard KMeans (sampled init, few
    iterations over (id, vec)); the quadratic step is confined within
    clusters, and the quantized-grid cosine matches ``cosine_pairs`` exactly
    — with ``n_clusters=1`` the result reduces to full-graph components over
    ``cosine_pairs`` (pinned by test), which is the recall ceiling."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .graph import connected_components_auto

    feats = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("arr")
    ).withColumn("features", array_to_vector(F.col("arr").cast("array<double>")))
    if n_clusters <= 1:  # exact mode: one cluster, no KMeans (k>1 required)
        clustered = feats.select("id", "arr", F.lit(0).alias("bucket"))
    else:
        # canonical_fit: id-ordered single-partition training makes the
        # centroids (hence clusters, pairs, components) a pure function of
        # (data set, seed) — golden-pinnable; see ivf_topk
        fit_input = feats.orderBy("id").coalesce(1) if canonical_fit else feats
        model = KMeans(
            k=n_clusters, seed=seed, featuresCol="features", predictionCol="bucket"
        ).fit(fit_input)
        clustered = model.transform(feats).select("id", "arr", "bucket")

    def qvec(col):
        return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT).cast("long"))

    quant = clustered.select(
        "id", "bucket", qvec(F.col("arr")).alias("qv")
    ).withColumn(
        "n2", F.aggregate("qv", F.lit(0).cast("long"), lambda acc, x: acc + x * x)
    )
    a = quant.select(
        F.col("bucket"), F.col("id").alias("id_a"), F.col("qv").alias("qv_a"),
        F.col("n2").alias("n2_a"),
    )
    b = quant.select(
        F.col("bucket"), F.col("id").alias("id_b"), F.col("qv").alias("qv_b"),
        F.col("n2").alias("n2_b"),
    )
    dot = F.aggregate(
        F.zip_with("qv_a", "qv_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                dot.cast("double")
                / (
                    F.sqrt(F.col("n2_a").cast("double"))
                    * F.sqrt(F.col("n2_b").cast("double"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    # auto-routed: propagation for cliquey dup graphs (the common case),
    # diameter-independent star fallback if the probe doesn't converge
    comps = connected_components_auto(pairs)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comps.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id", F.coalesce(F.col("component"), F.col("id")).alias("keeper_id")
        )
    )


def takedown_ivf_index(spark, index_dir: str, ids: DataFrame) -> int:
    """TAKEDOWN for the persisted IVF index (GDPR / data-removal): delete
    the given ids' vector rows, rewriting ONLY the (bucket[, epoch])
    partitions that contain them via dynamic partition overwrite — the
    path-based mirror of ``index_lifecycle.remove_ids_from_epoch_table``.
    Partitions left empty are removed on the filesystem (dynamic overwrite
    only replaces partitions present in the write). Convergent on crash
    re-run: every step is delete-only. Centroids are untouched — the
    coarse quantizer is frozen by contract, and a thinner partition only
    speeds probes. Returns vector rows removed. A takedown arriving before
    the index exists is a no-op returning 0 (the unknown-id contract, same
    as the table-backed families). Serialized per index_dir by the shared
    mutation-lock registry — two concurrent takedowns of different ids
    rewriting the same (bucket, epoch) partition would otherwise
    last-writer-win, the documented lost-update at
    ``index_lifecycle.table_mutation_lock``."""
    vec_path = f"{index_dir}/vectors"
    _p = spark._jvm.org.apache.hadoop.fs.Path(vec_path)
    if not _p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(_p):
        return 0
    with index_lifecycle.table_mutation_lock(index_dir):
        return _takedown_ivf_locked(spark, vec_path, ids)


def _takedown_ivf_locked(spark, vec_path: str, ids) -> int:
    vectors = spark.read.parquet(vec_path)
    pcols = [c for c in ("bucket", "epoch") if c in vectors.columns]
    ids = ids.select("id").distinct().localCheckpoint()
    affected = {
        tuple(int(r[c]) for c in pcols)
        for r in vectors.join(ids, "id", "semi").select(*pcols).distinct().collect()
    }
    if not affected:
        return 0
    # partition-key SEMI JOIN, not a per-partition OR chain: a long-lived
    # service accretes unbounded (bucket, epoch) partitions and a wide
    # takedown would otherwise build a thousands-deep Or tree (Catalyst
    # stack depth / planning time), where a tiny broadcast join is flat
    keys = spark.createDataFrame(
        sorted(affected), ", ".join(f"{c} int" for c in pcols)
    )

    def _in_affected(df):
        return df.join(F.broadcast(keys), pcols, "semi")

    removed = _in_affected(vectors).join(ids, "id", "semi").count()
    cleaned = _in_affected(vectors).join(ids, "id", "left_anti").localCheckpoint()
    survivors = {
        tuple(int(r[c]) for c in pcols)
        for r in cleaned.select(*pcols).distinct().collect()
    }
    cleaned.write.options(**index_lifecycle.DYNAMIC_OVERWRITE).mode(
        "overwrite"
    ).partitionBy(*pcols).parquet(vec_path)
    emptied = affected - survivors
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for part in emptied:
            rel = "/".join(f"{c}={v}" for c, v in zip(pcols, part))
            p = jvm.org.apache.hadoop.fs.Path(f"{vec_path}/{rel}")
            fs = p.getFileSystem(conf)
            if fs.exists(p):
                fs.delete(p, True)
    return removed
