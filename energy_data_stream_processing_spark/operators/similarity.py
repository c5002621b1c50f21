"""Similarity search over embedding columns (``embeddings`` table,
``embedding: array<float>[64]``).

- **Brute-force cosine top-k**: the correctness baseline. Dot products and
  norms are explicit left-fold ``aggregate`` expressions over doubles so the
  DuckDB oracle (written with the same left-fold ``list_reduce``) produces
  bit-identical IEEE results — no tolerance needed in the differential gate.
- **Random-hyperplane LSH top-k**: the scale path. Rademacher hyperplanes
  derived from md5 bytes (deterministic, no driver-side randomness), sign
  bits -> bucket codes via ONE vectorized numpy matmul per Arrow batch,
  candidates = same bucket in any table, verified by exact cosine. At
  100 TB: probe cost ~ bucket size x tables instead of the full corpus per
  query, and the shuffle carries ids, not vectors.

Scale note: brute force is a broadcast-join of the (tiny) query set against
the corpus — a narrow map-side pass, no shuffle on the corpus; top-k per
query uses a window over (query, cosine) which shuffles only (queries x
corpus-candidates) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Embedding dimensionality is a corpus constant (the DuckDB oracle twins
# hard-code it too: generate_series(1, 64) in training_queries._DDOT).
DIM = 64


def _unrolled_sum(terms: list[str]) -> str:
    """Left-associated sum with an explicit 0.0 start: ``((0.0 + t1) + t2)
    + ...`` — the EXACT addition order of the ``aggregate`` left fold it
    replaces (IEEE addition is order-sensitive; association is pinned so
    results stay bit-identical to the DuckDB ``list_reduce`` twins, which
    the round-15-green gates already proved equal to the fold form).

    Why unrolled (round 16, guide §4.1): higher-order functions
    (``aggregate``/``zip_with``/``transform``) are CodegenFallback in
    Spark — every element runs through interpreted expression eval with
    per-element lambda-variable binding. A fixed-width unrolled sum
    compiles into straight-line double arithmetic inside WholeStageCodegen
    (measured in OPTIMIZATION_r16.md), and elements index the raw array
    directly, so no intermediate zipped/squared array is built per row.
    The width is pinned by the caller (the corpus is fixed-dim, exactly
    as the oracles' ``generate_series(1, 64)`` assumes); rows whose array
    is shorter than ``dim`` raise INVALID_ARRAY_INDEX under ANSI mode
    (Spark 4 default) where the old fold silently summed a prefix — a
    ragged corpus now fails loudly instead of scoring wrong, and callers
    scoring truncated frames pass the matching ``dim`` (catalog:
    ann_recall_eval / retrieval_rbo_eval pass dim=16)."""
    out = "cast(0 AS DOUBLE)"
    for t in terms:
        out = f"({out} + {t})"
    return out


def _elem(a: str, i: int, cast: bool) -> str:
    return f"cast({a}[{i}] AS DOUBLE)" if cast else f"{a}[{i}]"


def dot_expr(a: str, b: str, dim: int = DIM, cast: bool = False) -> str:
    """Bit-exact unrolled twin of the previous left-fold ``aggregate`` dot
    product. ``a``/``b`` must be SIMPLE array column names (element access
    is repeated ``dim`` times — never splice a computed expression here).
    ``cast=True`` casts each element float->double inline, replacing the
    interpreted ``transform(col, x -> cast(x AS DOUBLE))`` projection with
    codegen'd per-element casts (same values: cast-then-multiply in the
    same order)."""
    return _unrolled_sum(
        [f"({_elem(a, i, cast)} * {_elem(b, i, cast)})" for i in range(dim)]
    )


def norm_expr(a: str, dim: int = DIM, cast: bool = False) -> str:
    """Bit-exact unrolled twin of the previous left-fold L2 norm."""
    return (
        "sqrt("
        + _unrolled_sum([f"({_elem(a, i, cast)} * {_elem(a, i, cast)})" for i in range(dim)])
        + ")"
    )


def cosine_expr(q: str, v: str, dim: int = DIM, cast: bool = False) -> str:
    """dot(q, v) / (norm(q) * norm(v)) — the shared scoring expression."""
    return (
        dot_expr(q, v, dim, cast)
        + " / ("
        + norm_expr(q, dim, cast)
        + " * "
        + norm_expr(v, dim, cast)
        + ")"
    )


# Legacy format-string forms kept for call sites that splice PLAIN column
# names (never computed expressions); semantics identical to the helpers.
_DOT = dot_expr("{a}", "{b}")
_NORM = norm_expr("{a}")


def parsed_expr(sql: str):
    """``F.expr`` with a per-JVM parse memo (round 17, guide §7.3).

    The unrolled scoring expressions are ~12,000-char SQL strings; parsing
    one through ``F.expr`` costs a py4j round trip plus a full SQL-parser
    pass (measured ~0.2-0.7 s per builder call — the bulk of
    embedding_cosine_topk's 0.77 s first build). The parsed Column is an
    immutable UNRESOLVED expression tree bound only to the py4j gateway —
    no alias, session, dataset or exprId inside — so it is memoized per
    (gateway, sql) exactly like the round-16 gateway column trees;
    ``.alias(...)`` at each call site still mints a fresh Alias. A
    restarted JVM rebuilds (identity check in ``gateway_columns``)."""
    from ..functions.columns import gateway_columns

    return gateway_columns(f"parsed-expr:{sql}", lambda: F.expr(sql))


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x AS DOUBLE))")


def cosine_topk(
    embeddings: DataFrame, num_queries: int = 20, k: int = 5, dim: int = DIM
) -> DataFrame:
    """Exact top-k cosine neighbors for each of the first ``num_queries``
    vectors (self-matches excluded). ``dim`` pins the unrolled scoring
    width (pass it for non-64-dim frames, e.g. the truncated retriever).

    Round 16 NOTE (measured, counterintuitive): norms are recomputed PER
    PAIR in the top projection, not hoisted below the join. Hoisting each
    side's norm (|corpus|+|queries| evals instead of 2x|pairs|) measured
    2x SLOWER at sf0.1 (interleaved medians 1.31 s vs 0.67 s): the huge
    unrolled-SQRT projection fused below the BroadcastNestedLoopJoin
    pushes the whole fused codegen method past the JVM method limit and
    the entire span (join + dot projection) drops out of compiled
    codegen. Per-pair keeps the scan->join span trivial and the scoring
    projection its own compiled span. Results are bit-identical either
    way (same values divided in the same order; verified empirically)."""
    base = embeddings.select("vec_id", F.col("embedding").alias("v"))
    queries = embeddings.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    joined = base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
    cos = parsed_expr(cosine_expr("q", "v", dim, cast=True))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        joined.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def similar_pairs(embeddings: DataFrame, threshold: float = 0.35, max_id: int = 300) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine >= t)
    over a bounded id range — the all-pairs verification form. Norms are
    per-pair (see cosine_topk's round-16 NOTE: hoisting them below the
    join knocks the fused span out of compiled codegen)."""
    base = embeddings.where(F.col("vec_id") < max_id).select(
        "vec_id", F.col("embedding").alias("v")
    )
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = parsed_expr(cosine_expr("va", "vb", cast=True))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _planes(tables: int, bits: int, dim: int):
    """Deterministic Rademacher hyperplanes, (dim, tables*bits) matrix.
    Component i of plane j in table t is +1 when the first md5 byte of
    "t:j:i" is even else -1 — stable across runs/executors, no RNG state."""
    import hashlib

    import numpy as np

    signs = np.empty((dim, tables * bits), dtype=np.float64)
    for t in range(tables):
        for j in range(bits):
            for i in range(dim):
                b = hashlib.md5(f"{t}:{j}:{i}".encode()).digest()[0]
                signs[i, t * bits + j] = 1.0 if b % 2 == 0 else -1.0
    return signs


def bucket_codes_udf(tables: int = 8, bits: int = 4, dim: int = 64):
    """Vectorized bucket-code computation: one Arrow batch -> numpy matmul
    against all tables*bits hyperplanes at once -> per-table integer codes.

    Dense linear algebra is exactly what per-row SQL expressions are worst
    at (a 2048-term expression tree costs more to compile than this does to
    run) and what a Pandas UDF is for: the (n, dim) batch multiplies the
    (dim, tables*bits) plane matrix in one BLAS call.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def codes(emb):
        import numpy as np
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype=object)
        planes = _planes(tables, bits, dim)
        weights = 1 << np.arange(bits, dtype=np.int64)
        mat = np.stack(emb.map(lambda a: np.asarray(a, dtype=np.float64)).to_list())
        signs = (mat @ planes) > 0  # (n, tables*bits)
        per_table = signs.reshape(len(mat), tables, bits) @ weights  # (n, tables)
        return pd.Series(per_table.astype(np.int32).tolist())

    return codes


def _verified_pairs_topk(
    embeddings: DataFrame, pairs: DataFrame, num_queries: int, k: int, dim: int = DIM
) -> DataFrame:
    """Shared ANN verification: join candidate (query_id, vec_id) id-pairs
    back to their vectors, compute exact cosine, keep top-k per query.
    Norms are per-pair (see cosine_topk's round-16 NOTE: the hoisted-norm
    projection below a join measured slower by knocking the fused codegen
    span off the compiled path; candidate counts here are small, so the
    redundant per-pair norm arithmetic is noise)."""
    base = embeddings.select("vec_id", F.col("embedding").alias("v"))
    queries = embeddings.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    cos = parsed_expr(cosine_expr("q", "v", dim, cast=True))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        pairs.join(base, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    num_queries: int = 20,
    k: int = 5,
    tables: int = 8,
    bits: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH, exact-cosine verified.

    Output schema matches ``cosine_topk``; recall < 1 by design (measured
    against the exact baseline in tests). Bucket collision probability per
    table is (1 - theta/pi)^bits for angle theta.

    Plan shape for scale: bucket codes are a narrow vectorized pass over the
    corpus; the candidate join carries ONLY (vec_id, tbl, bucket) — ids, not
    embedding arrays — and dedups pairs before rejoining the vectors, so the
    shuffle volume is id-sized and the exact-cosine verification touches
    each candidate pair once.
    """
    codes = bucket_codes_udf(tables, bits, dim)
    ids_buckets = (
        embeddings.select("vec_id", codes(F.col("embedding")).alias("bb"))
        .select("vec_id", F.posexplode_outer("bb").alias("tbl", "bucket"))
        .where(F.col("bucket").isNotNull())
    )
    qb = ids_buckets.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    pairs = (
        ids_buckets.join(F.broadcast(qb), ["tbl", "bucket"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _verified_pairs_topk(embeddings, pairs, num_queries, k)


def _train_ivf_centroids(
    embeddings: DataFrame, nlist: int, sample_cap: int = 2048, iters: int = 8
):
    """Driver-side spherical k-means on a deterministic bounded sample.

    IVF training is the one legitimately driver-side step: the model is
    nlist x dim floats learned from a FIXED-size sample, so its cost is
    independent of corpus size. The sample is the ``sample_cap`` rows with
    the smallest ``xxhash64(vec_id)`` — a uniform deterministic draw that
    adapts to any corpus size with NO separate sizing ``count()`` (the
    previous hash-mod scheme spent one extra corpus scan computing ``m``).
    ``orderBy(hash).limit(cap)`` compiles to TakeOrderedAndProject: a
    per-partition top-``cap`` heap merged on the driver — ONE narrow corpus
    scan, no shuffle, no range-partitioned global sort (plan-gated in
    tests/test_round5_ops.py). The selected id set is a pure function of
    the corpus, and the driver-side re-sort by vec_id keeps init order
    stable, so centroids stay fully deterministic: init = first nlist
    sample vectors, empty cells keep their old centroid, no RNG anywhere.
    """
    import numpy as np

    # toPandas instead of collect (round 17, guide §6 Arrow driver
    # transfers): with Arrow enabled the 2048x64 float sample crosses as
    # columnar batches instead of pickled Row objects (measured ~0.25 s
    # saved per training job — which runs on EVERY build by contract);
    # without Arrow it degrades to the same row path as collect. Values
    # are identical either way: float32 -> float64 upcast is IEEE-exact,
    # and the driver-side re-sort by the unique vec_id pins init order.
    pdf = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(sample_cap)
        .toPandas()
    )
    pdf = pdf.sort_values("vec_id")
    X = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = Xn[:nlist].copy()
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for c in range(nlist):
            members = Xn[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def _cell_assign_udf(C):
    """Arrow-batched nearest-centroid assignment against frozen centroids
    ``C``: one (n, dim) @ (dim, nlist) BLAS call per batch."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    @pandas_udf(IntegerType())
    def assign_cell(emb):
        import numpy as np
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack(emb.map(lambda a: np.asarray(a, dtype=np.float64)).to_list())
        return pd.Series(np.argmax(mat @ C.T, axis=1).astype(np.int32))

    return assign_cell


def _cell_probe_udf(C, nprobe: int):
    """Arrow-batched top-``nprobe`` nearest-centroid probe list per query."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    @pandas_udf(ArrayType(IntegerType()))
    def probe_cells(emb):
        import numpy as np
        import pandas as pd

        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(emb.map(lambda a: np.asarray(a, dtype=np.float64)).to_list())
        order = np.argsort(-(mat @ C.T), axis=1)[:, :nprobe]
        return pd.Series(order.astype(np.int32).tolist())

    return probe_cells


def ivf_topk(
    embeddings: DataFrame,
    num_queries: int = 20,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 6,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Corpus vectors are assigned to their nearest of ``nlist`` spherical
    k-means centroids (one vectorized matmul per Arrow batch); each query
    probes its ``nprobe`` closest cells. Candidates = corpus vectors in any
    probed cell, then exact-cosine verified top-k (same contract as
    ``lsh_topk``/``cosine_topk``).

    Scale shape: assignment is a narrow pass producing one small int per
    vector — the inverted lists are a partitioning of the corpus by cell id,
    so a query touches ~nprobe/nlist of the data; the candidate shuffle is
    id-only. Recall is tuned by nprobe (measured vs the exact baseline in
    tests).
    """
    C = _train_ivf_centroids(embeddings, nlist)
    assign_cell = _cell_assign_udf(C)
    probe_cells = _cell_probe_udf(C, nprobe)

    cells = embeddings.select("vec_id", assign_cell(F.col("embedding")).alias("cell"))
    qcells = (
        embeddings.where(F.col("vec_id") < num_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode_outer(probe_cells(F.col("embedding"))).alias("cell"),
        )
        .where(F.col("cell").isNotNull())
    )
    pairs = (
        cells.join(F.broadcast(qcells), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    return _verified_pairs_topk(embeddings, pairs, num_queries, k)


def hard_negatives(embeddings: DataFrame, num_queries: int = 50, k: int = 3) -> DataFrame:
    """Hard-negative mining: for each query vector, the top-k most-similar
    vectors carrying a DIFFERENT label — the contrastive-training selection
    step (nearest wrong-class neighbors are the informative negatives).

    Same physical shape as :func:`cosine_topk` — broadcast the query set,
    one narrow pass over the corpus, window top-k on (query, cosine) — plus
    the label-mismatch predicate evaluated before the dot product, so
    same-label rows are skipped before any arithmetic. At 100 TB swap the
    exact scan for lsh_topk candidates and keep this ranking stage as-is.
    """
    base = embeddings.select("vec_id", "label", F.col("embedding").alias("v"))
    queries = embeddings.where(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q"),
    )
    joined = base.join(F.broadcast(queries), F.col("label") != F.col("query_label"))
    cos = parsed_expr(cosine_expr("q", "v", cast=True))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        joined.select("query_id", "query_label", "vec_id", "label", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            "cosine",
            F.col("rank").cast("integer").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# Persisted incremental IVF index: the ANN counterpart of the engine's
# continuous-aggregate maintenance (sources/sinks.py::refresh_hourly_
# incremental). An index at rest is (a) a tiny frozen-centroid table and
# (b) the corpus partitioned on disk by (increment, cell) — so ingesting
# new vectors prices at O(increment) (one narrow assignment pass, frozen
# centroids) and a query scans ONLY its probed cell partitions via
# partition pruning, never the corpus.
# --------------------------------------------------------------------------
def build_ivf_index(spark, embeddings: DataFrame, index_path: str, nlist: int = 16):
    """Train centroids on the base corpus (deterministic bounded sample,
    spherical k-means), persist them, and land the base assignment as
    increment "base". Later vectors arrive via refresh_ivf_incremental —
    centroids stay FROZEN (the standard IVF maintenance contract: re-train
    is an offline rebuild, not an ingest-path operation)."""
    C = _train_ivf_centroids(embeddings, nlist)
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in C[i]]) for i in range(len(C))],
        "cell int, centroid array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    refresh_ivf_incremental(spark, index_path, embeddings, increment_id="base")


def _load_ivf_centroids(spark, index_path: str):
    import numpy as np

    rows = spark.read.parquet(f"{index_path}/centroids").orderBy("cell").collect()
    return np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])


def refresh_ivf_incremental(
    spark, index_path: str, increment: DataFrame, increment_id: str
) -> None:
    """Fold new vectors into the persisted index: assign ONLY the increment
    against the frozen centroids (narrow Arrow-batched pass) and land it
    keyed by (_increment_id, cell) with dynamic partition overwrite — a
    replayed increment rewrites exactly its own files, so the index is
    idempotent under at-least-once delivery (the same
    ``sinks.write_increment_partition`` as refresh_hourly_incremental's
    raw landing)."""
    from ..sources.sinks import write_increment_partition

    C = _load_ivf_centroids(spark, index_path)
    assigned = increment.select(
        "vec_id",
        "embedding",
        _cell_assign_udf(C)(F.col("embedding")).alias("cell"),
    )
    write_increment_partition(assigned, f"{index_path}/cells", increment_id, "cell")


def ivf_index_topk(
    spark, index_path: str, queries: DataFrame, k: int = 5, nprobe: int = 6
) -> DataFrame:
    """Query the persisted index: per query, probe the ``nprobe`` nearest
    cells; the corpus scan carries ``cell IN (probed)`` so partition pruning
    reads only the probed cell directories (gated in tests by
    PartitionFilters in the physical plan); candidates exact-cosine verify
    and rank top-k. ``queries`` is a (query_id, embedding) frame."""
    C = _load_ivf_centroids(spark, index_path)
    qcells = queries.select(
        F.col("query_id"),
        F.explode_outer(_cell_probe_udf(C, nprobe)(F.col("embedding"))).alias("cell"),
    ).where(F.col("cell").isNotNull())
    # bounded collect: at most nlist distinct cells (16 by default)
    probed = sorted(r["cell"] for r in qcells.select("cell").distinct().collect())
    corpus = (
        spark.read.parquet(f"{index_path}/cells")
        .where(F.col("cell").isin([int(c) for c in probed]))
        .select("vec_id", "cell", F.col("embedding").alias("v"))
    )
    qvec = queries.select(
        "query_id",
        F.col("embedding").alias("q"),
        parsed_expr(norm_expr("embedding", cast=True)).alias("nq"),
    )
    pairs = (
        corpus.join(F.broadcast(qcells), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "v")
        .distinct()
    )
    # nv after the distinct (per surviving candidate row, once each); nq
    # rides the broadcast — the division order matches the fold form
    cos = parsed_expr(dot_expr("q", "v", cast=True)) / (
        F.col("nq") * parsed_expr(norm_expr("v", cast=True))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        pairs.join(F.broadcast(qvec), "query_id")
        .select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )
