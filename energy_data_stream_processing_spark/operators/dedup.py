"""Deduplication operators for training-data pipelines.

Four strategies over the ``documents`` table, ordered by cost/recall
tradeoff at 100 TB:

- **exact**: md5-of-normalized-text hash groupBy — one shuffle on the hash,
  map-side combinable. The canonical first pass at any scale.
- **n-gram Jaccard (exact)**: inverted shingle index self-joined on shingle,
  common-count -> Jaccard. Quadratic in bucket size per shingle; right for
  verification and small/medium corpora, and as the verify stage after LSH
  candidate generation.
- **MinHash + banded LSH**: signature = min over shingles of xxhash64(perm,
  shingle); band buckets join candidates in near-linear time; candidates are
  verified with exact Jaccard. The 100 TB path: cost ~ O(n * sig) + bucket
  joins, no quadratic blowup.
- **SimHash**: 64-bit sign-aggregated token hashes; Hamming-close pairs via
  4x16-bit band blocking (a pair within Hamming distance 3 must agree on at
  least one 16-bit band).

All hashing is JVM-side (md5 / xxhash64) inside higher-order functions — no
Python UDFs. Exact and Jaccard variants have DuckDB oracle twins (md5 and
word-shingles are dialect-neutral); MinHash/SimHash use xxhash64, which
DuckDB lacks, so they are covered by recall tests against the exact Jaccard
output instead (tests/test_training_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint

SHINGLE_N = 3


def words(col_name: str = "text") -> F.Column:
    return F.split(F.lower(F.trim(col_name)), " ")


def with_shingles(
    docs: DataFrame, n: int = SHINGLE_N, hashed: bool = False, out: str = "sh"
) -> DataFrame:
    """``doc_id`` + distinct word-n-gram shingle array (empty when < n words).

    Two-step projection on purpose: the word split is materialized once in
    its own project (Catalyst's CollapseProject keeps non-cheap expressions
    un-duplicated), then shingles assemble by O(1) element access — ~6x
    cheaper than re-splitting inside the transform. ``hashed=True`` emits
    ``xxhash64`` int64 shingles instead of strings: fixed-width, cheaper to
    shuffle/compare, the right representation for MinHash and for
    candidate verification at scale (collision odds ~2^-64 per pair).
    """
    if hashed:
        elem = f"xxhash64({', '.join(f'_w[i+{j}]' for j in range(n))})"
    else:
        elem = "concat(" + ", ' ', ".join(f"_w[i+{j}]" for j in range(n)) + ")"
    return docs.select("doc_id", words().alias("_w")).select(
        "doc_id",
        F.expr(
            f"""
            CASE WHEN size(_w) >= {n}
                 THEN array_distinct(transform(sequence(0, size(_w) - {n}), i -> {elem}))
                 ELSE array()
            END
            """
        ).alias(out),
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content with the kept
    (minimum) doc_id and the duplicate count."""
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .withColumn("has_duplicates", F.col("n_copies") > 1)
    )


def _shingle_index(docs: DataFrame) -> DataFrame:
    # explode_outer + post-filter, NOT explode: InferFiltersFromGenerate puts
    # a size()>0 filter under a plain explode, and predicate pushdown inlines
    # the whole shingle expression into it (recomputed per row, with the
    # split re-evaluated per element) — ~3x the query. Outer generate infers
    # nothing; the null-filter above it is a cheap column test.
    return (
        with_shingles(docs)
        .select("doc_id", F.explode_outer("sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.015, max_df: int | None = None
) -> DataFrame:
    """Exact word-3-gram Jaccard similarity pairs (doc_a < doc_b, jac >= t).

    Inverted-index plan, single-scan form: the shingle set (with its size
    carried alongside) explodes ONCE, buckets by shingle, and each bucket
    pair-generates its doc combinations array-side — the self-join
    formulation would recompute the regex-heavy shingle projection for each
    of its three consumers (a-side, b-side, per-doc counts; Catalyst does
    not reuse the exchange across them — measured 4 scans vs 1 here).
    Jaccard derives as ``common / (na + nb - common)`` with the set sizes
    riding the pair rows, so no join back is needed. Shuffles: shingle,
    then pair key — both map-side combinable.

    Hot shingles (stopword runs) are the skew/memory risk at scale
    (collect_list per bucket is O(df), pair-gen O(df^2)). ``max_df`` is the
    standard mitigation: shingles appearing in more than ``max_df``
    documents are dropped from the index BEFORE bucket arrays are built, so
    every bucket is provably <= max_df docs and pair-gen <= max_df^2. The
    capped run under-counts ``common`` for pairs whose overlap includes a
    dropped shingle (na/nb stay full-size, so reported jaccard is a lower
    bound) and loses pairs whose ONLY overlap is hot shingles — exactly the
    pairs that aren't meaningfully similar. The df pre-pass shuffles on the
    same shingle key the bucket groupBy uses, so it adds a map-side-
    combinable count, not a new partitioning. Default None = exact path
    (max bucket ~25 at test scale).
    """
    common = _ngram_pair_counts(docs, max_df=max_df)
    jac = F.col("common").cast("double") / (
        (F.col("na") + F.col("nb") - F.col("common")).cast("double")
    )
    return (
        common.select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _ngram_pair_counts(docs: DataFrame, max_df: int | None = None) -> DataFrame:
    """Shared inverted-index pair pipeline behind the exact set-similarity
    operators (Jaccard, containment): one shingle explode, shingle-bucket
    groupBy, array-side (i < j) pair generation, then a pair-key count —
    yields (doc_a, doc_b, na, nb, common). Both shuffles are map-side
    combinable; the similarity metric is a post-hoc projection, so adding a
    new metric costs zero additional shuffles.

    Round 16 (guide §2.3, narrower shuffle keys): the shingle is an
    INTERNAL bucket key only — no output column carries it — so the index
    is built over ``xxhash64`` int64 shingles (``with_shingles
    hashed=True``) instead of the concatenated 3-word strings: no string
    assembly in the scan stage, 8-byte fixed-width group/shuffle keys, and
    int compares in the bucket sort. Same rationale as ``exact_dedup``'s
    md5 fingerprint and the LSH verify stage (already hashed): a cross-doc
    collision (~2^-64 per shingle pair; multi-arg xxhash64 seeds each
    argument with the previous hash, so word-boundary shifts cannot alias)
    would only nudge one pair's ``common`` count. At extreme corpus sizes
    swap in a 128-bit fingerprint if even that is unacceptable."""
    sh = with_shingles(docs, hashed=True)
    exploded = (
        sh.select("doc_id", F.size("sh").alias("n"), F.explode_outer("sh").alias("shingle"))
        .where(F.col("shingle").isNotNull())
    )
    if max_df is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("shingle")
        )
        exploded = exploded.join(hot, "shingle", "left_anti")
    # Round 16 (guide §2.2): pin the bucket exchange's width. The pair-gen
    # projection above this groupBy is QUADRATIC per bucket row, but AQE
    # coalesces the exchange by shuffle BYTES (2.7 MB at sf0.1 -> 2
    # partitions), serializing the most expensive stage of the query onto 2
    # cores (measured: bucket stage 1.7 s on 2 tasks = 80% of warm
    # execution). An explicit hash repartition on the same key the groupBy
    # needs (so NO extra exchange is added — the aggregation reuses this
    # partitioning) is exempt from AQE coalescing; its width comes from
    # spark.sql.shuffle.partitions, the deployment's scale knob (cores
    # locally, thousands on a cluster), not a hard-coded constant.
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    buckets = exploded.repartition(n_parts, "shingle").groupBy("shingle").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id"), F.col("n")))
        ).alias("ds")
    )
    # all (i < j) doc pairs within a bucket; ds is sorted so doc_a < doc_b
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, greatest(0, size(ds) - i - 1)), y -> "
        "struct(x.doc_id AS doc_a, x.n AS na, y.doc_id AS doc_b, y.n AS nb))))"
    )
    pairs = (
        buckets.select(F.explode_outer(F.expr(pair_expr)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.doc_a", "p.na", "p.doc_b", "p.nb")
    )
    return pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(
        F.count(F.lit(1)).alias("common")
    )


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Asymmetric near-dup detection: word-3-gram containment
    ``|A ∩ B| / min(|A|, |B|)`` — 1.0 when the smaller document's shingle
    set is entirely inside the larger one. Jaccard misses subset
    duplication (a paragraph quoted inside a long page scores near zero on
    union-normalized similarity); containment is the standard metric for
    quote/excerpt/boilerplate detection in pretraining-corpus curation.

    Same single-scan inverted-index plan as ``ngram_jaccard_pairs``
    (see ``_ngram_pair_counts``); only the final projection differs, so the
    cost profile and the ``max_df`` hot-shingle mitigation are identical.
    """
    common = _ngram_pair_counts(docs, max_df=max_df)
    cont = F.col("common").cast("double") / F.least(
        F.col("na"), F.col("nb")
    ).cast("double")
    return (
        common.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "doc_a",
            "doc_b",
            cont.alias("containment"),
            # which side is contained: the smaller shingle set
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
        )
        .where(F.col("containment") >= threshold)
    )


def substring_window_pairs(
    docs: DataFrame, window: int = 40, max_df: int | None = None
) -> DataFrame:
    """Verbatim-substring near-dup pairs: documents sharing at least one
    exact ``window``-char substring (all positions, stride 1), with the
    count of DISTINCT shared windows per pair — the character-level exact
    companion to token-shingle Jaccard (the pretraining-dedup practice of
    removing long verbatim spans copied across documents, cf. the
    "deduplicating training data" line of work: overlapping char windows
    approximate a suffix-array substring match, and any shared span of
    length >= window yields >= 1 shared window, so recall for long copies
    is exact).

    Plan: the same single-scan inverted-index skeleton as
    ``_ngram_pair_counts`` — per-doc DISTINCT window set (array-side),
    one explode, window-bucket groupBy with array pair-gen, pair-count
    shuffle; both shuffles map-side combinable. Volume is O(total chars)
    index rows — the same asymptotic cost a suffix-array build pays.
    ``max_df`` caps boilerplate windows (shared headers/footers) exactly
    like hot shingles; at 100 TB run with a stride >1 on the first pass
    and re-verify candidates at stride 1.
    """
    # Round 16 (guide §2.3): the window text is an internal bucket key only
    # (the output carries doc pairs + counts), so index xxhash64 fingerprints
    # of the windows, not the 40-char strings — fixed-width int64 dedup/
    # shuffle/group keys instead of 40-byte strings (same trade as
    # _ngram_pair_counts; collisions ~2^-64 per window pair).
    wins = docs.select(
        "doc_id",
        F.expr(
            f"""
            CASE WHEN length(text) >= {window}
                 THEN array_distinct(transform(
                        sequence(1, length(text) - {window - 1}),
                        i -> xxhash64(substring(text, i, {window}))))
                 ELSE array()
            END
            """
        ).alias("w"),
    )
    exploded = (
        wins.select("doc_id", F.explode_outer("w").alias("win"))
        .where(F.col("win").isNotNull())
    )
    if max_df is not None:
        hot = (
            exploded.groupBy("win")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("win")
        )
        exploded = exploded.join(hot, "win", "left_anti")
    buckets = exploded.groupBy("win").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ds")
    )
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, greatest(0, size(ds) - i - 1)), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    return (
        buckets.where(F.size("ds") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
    )


def minhash_signatures(docs: DataFrame, num_perm: int = 32) -> DataFrame:
    """MinHash signature per doc: min over the doc's int64 shingle hashes of
    ``num_perm`` affine permutations ``(a_p * h + b_p) >> 1`` in uint64
    wraparound arithmetic.

    Shingles are hashed ONCE JVM-side (with_shingles hashed=True); the
    permutation mins are one vectorized (S, num_perm) numpy broadcast per
    row inside an Arrow batch — measured ~6x over the equivalent
    interpreted higher-order-function formulation. Seeded RandomState makes
    the permutation constants deterministic across runs and executors."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def sig(shh):
        import numpy as np
        import pandas as pd

        rng = np.random.RandomState(12345)
        A = rng.randint(1, 2**62, size=num_perm).astype(np.uint64) * np.uint64(2) + np.uint64(1)
        B = rng.randint(0, 2**62, size=num_perm).astype(np.uint64)
        empty = [int(2**63 - 1)] * num_perm
        out = []
        for arr in shh:
            if arr is None or len(arr) == 0:
                out.append(empty)
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            with np.errstate(over="ignore"):
                m = h[:, None] * A[None, :] + B[None, :]
            out.append(np.right_shift(m, np.uint64(1)).min(axis=0).astype(np.int64).tolist())
        return pd.Series(out)

    return with_shingles(docs, hashed=True).select(
        "doc_id",
        sig(F.col("sh")).alias("signature"),
        F.size(F.col("sh")).alias("n_shingles"),
    )


def _band_frame(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) LSH band codes from a signature frame: each
    band hashes its ``num_perm/bands`` consecutive signature slots with
    xxhash64 (band index salted in, so equal slot values in different bands
    never collide)."""
    rows_per_band = num_perm // bands
    return (
        sigs.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"""
                    transform(sequence(0, {bands - 1}),
                              b -> struct(b AS band,
                                          xxhash64(concat_ws(',', b, slice(signature, b * {rows_per_band} + 1, {rows_per_band}))) AS bucket))
                    """
                )
            ).alias("bb"),
        )
        .where(F.col("bb").isNotNull())
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def _verify_pairs_exact(
    sh: DataFrame,
    candidates: DataFrame,
    threshold: float,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs with ONE shingle scan:
    explode each pair to its two member ids, join the single shingle
    projection (``sh`` = (doc_id, sh) hashed-shingle arrays), regroup by
    pair picking each side's array. The two-join formulation scanned the
    shingle projection twice.

    Broadcast-size guard, two modes. Default (``broadcast_limit=None``):
    NO broadcast hint — AQE sizes the candidate exchange at runtime and
    converts to a broadcast join only when it is actually small, so the
    typical collision-bounded case broadcasts and a pathological duplicate
    mega-cluster falls back to a shuffle join with zero extra jobs spent
    probing. Explicit ``broadcast_limit=N``: the candidate frame is
    checkpointed, counted, and hinted ONLY under the measured limit — the
    deterministic form for plan tests and for callers who must pin the
    strategy regardless of AQE."""
    if broadcast_limit is None:
        cand_ids = candidates.select(
            "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
    else:
        candidates = candidates.localCheckpoint(eager=True)
        n_pairs = candidates.count()
        cand_ids = candidates.select(
            "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        if n_pairs <= broadcast_limit:
            cand_ids = F.broadcast(cand_ids)
    # Round 16 NOTE: a semi-join prefilter of ``sh`` on candidate member
    # ids (to push the regex split + hashing down to colliding docs only)
    # was tried and REVERTED: the member-id subtree does NOT share the
    # candidate pipeline's exchange (one side broadcasts, the other
    # shuffles distinct ids — different shapes, no ReusedExchange), so the
    # whole candidate pipeline — including the Arrow signature kernel on
    # the minhash path — executed twice, the exact regression
    # tests/test_plans.py::test_minhash_audit_single_signature_kernel pins.
    per_pair = (
        sh.join(cand_ids, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_a"),
            F.first(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_b"),
        )
    )
    return (
        per_pair.withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("common").cast("double")
                / (F.size("sh_a") + F.size("sh_b") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.015,
    num_perm: int = 32,
    bands: int = 16,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + candidate-local exact verification.

    Banding: two docs collide if any band (num_perm/bands consecutive
    signature slots) hashes equal. Candidates then verify by joining each
    side's distinct-shingle array and computing exact Jaccard with
    ``array_intersect`` — work proportional to the CANDIDATE set, never the
    all-pairs set, so the output has NO false positives and the plan stays
    near-linear. Recall depends on (bands, rows-per-band) — 16 bands x 2
    rows is recall-heavy, right for a low threshold. At 100 TB this is the
    scale path: candidate volume is bucket-local instead of all-pairs, and
    verification touches only colliding pairs.
    """
    sigs = minhash_signatures(docs, num_perm)
    bands_df = _band_frame(sigs, num_perm, bands)

    # Bucket-groupBy + array-side pair generation instead of a (band,
    # bucket) self-join: the self-join form recomputed the signature UDF
    # once per side (the regex shingling + numpy pass is the dominant
    # cost); this form scans `sigs` ONCE. Bucket arrays are bounded by
    # duplicate-cluster size — exactly the candidate volume LSH emits by
    # definition.
    buckets = (
        bands_df.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, greatest(0, size(ds) - i - 1)), "
        "y -> struct(x AS doc_a, y AS doc_b))))"
    )
    candidates = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sh = with_shingles(docs, hashed=True)
    return _verify_pairs_exact(sh, candidates, threshold, broadcast_limit)


def simhash_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs via 4x16-bit band blocking.

    simhash bit b = sign of sum over tokens of (+1 if xxhash64(token) bit b
    set else -1). Pairs agreeing on >= 1 of 4 16-bit bands are candidates
    (guaranteed complete for Hamming distance <= 3; heuristic above that),
    then filtered by true Hamming distance via bit_count(xor).
    """
    sim = (
        docs.select("doc_id", words().alias("_w"))
        # token hashes computed ONCE; one pass over them accumulates all 64
        # bit-sign counters via zip_with (instead of 64 separate aggregates —
        # ~4x cheaper in interpreted higher-order-function evaluation), then
        # a final fold packs signs into the 64-bit simhash.
        .select("doc_id", F.expr("transform(_w, t -> xxhash64(t))").alias("hh"))
        .select(
            "doc_id",
            F.expr(
                """
                aggregate(
                  aggregate(hh, transform(sequence(0, 63), b -> 0L),
                    (acc, h) -> zip_with(acc, sequence(0, 63),
                                         (c, b) -> c + 2L * (shiftright(h, b) & 1) - 1L)),
                  struct(cast(0 AS BIGINT) AS v, 0 AS b),
                  (st, c) -> struct(st.v + CASE WHEN c > 0 THEN shiftleft(1L, st.b) ELSE 0L END AS v,
                                    st.b + 1 AS b),
                  st -> st.v)
                """
            ).alias("simhash"),
        )
    ).withColumn(
        "bands",
        F.expr(
            "transform(sequence(0, 3), i -> struct(i AS band, (shiftright(simhash, i * 16) & 65535) AS chunk))"
        ),
    )
    banded = (
        sim.select("doc_id", "simhash", F.explode_outer("bands").alias("bb"))
        .where(F.col("bb").isNotNull())
        .select(
            "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk")
        )
    )
    # Bucket by (band, chunk) and pair-generate array-side instead of a
    # banded self-join: the join formulation evaluates the token-hash
    # sign-accumulation (the expensive projection) once per join side —
    # measured 2x the whole query. Bucket sizes are band-collision counts
    # (tiny); ds is sorted so doc_a < doc_b.
    buckets = banded.groupBy("band", "chunk").agg(
        F.array_sort(F.collect_list(F.struct(F.col("doc_id"), F.col("simhash")))).alias("ds")
    )
    pair_expr = (
        "flatten(transform(ds, (x, i) -> "
        "transform(slice(ds, i + 2, greatest(0, size(ds) - i - 1)), y -> "
        "struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "bit_count(x.simhash ^ y.simhash) AS hamming))))"
    )
    return (
        buckets.select(F.explode_outer(F.expr(pair_expr)).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``nodes`` is (doc_id); ``edges`` is (src, dst) and must already contain
    both directions of each undirected edge. Returns (doc_id, component_id)
    where component_id = min doc_id reachable (singletons label themselves).

    Each round every node takes the minimum of its own label and its
    neighbors' current labels; convergence takes O(component diameter)
    rounds, checked with a changed-row count. ``localCheckpoint`` cuts the
    lineage each round so the plan stays flat. Scale notes: near-dup
    components are overwhelmingly tiny (pairs, triangles), so the diameter
    bound is small; for adversarial long-chain graphs switch to the
    alternating large-star/small-star algorithm (same DataFrame skeleton,
    pointer-doubling convergence in O(log n) rounds) and use reliable
    checkpointing to HDFS instead of local blocks.
    """
    # Materialize the edge list once: it is typically the output of an
    # expensive pair-generation pipeline (shingling + inverted-index join),
    # and every iteration below joins against it — without the checkpoint
    # each round would recompute the whole upstream pipeline.
    edges = edges.localCheckpoint()
    # Singleton nodes (no edges) keep their own label and skip the loop
    # entirely — in dedup workloads most documents are singletons, so the
    # iterated joins run on the (much smaller) pair-graph node set only.
    graph_nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = graph_nodes.withColumn("component_id", F.col("doc_id")).localCheckpoint()
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy(edges["src"].alias("nbr_doc_id"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        relabeled = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["nbr_doc_id"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    labels["component_id"],
                    F.coalesce(F.col("nbr_min"), labels["component_id"]),
                ).alias("component_id"),
                labels["component_id"].alias("_old"),
            )
            .localCheckpoint()
        )
        changed = relabeled.where(F.col("component_id") != F.col("_old")).count()
        labels = relabeled.drop("_old")
        if changed == 0:
            break
    return nodes.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("component_id", F.col("doc_id")).alias("component_id")
    )


def component_scores(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(component_id, doc_id, n_words) for every document: connected
    components over the (doc_a, doc_b) near-dup pair graph joined with
    per-doc word counts — the shared frame behind every canonical-keep
    aggregation (dedup_cluster_keep_best, semantic_dedup_lsh, the curation
    pipeline), so cluster semantics can't drift between call sites."""
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    comp = connected_components(docs.select("doc_id"), edges)
    return comp.join(docs.select("doc_id", F.size(words()).alias("n_words")), "doc_id")


def keep_longest_ord() -> F.Column:
    """``max_by`` ordering for canonical keep: longest copy wins, smallest
    doc_id breaks ties. Struct comparison (lexicographic), NOT the
    ``n_words * 1e8 - doc_id`` arithmetic it replaces — that composite
    silently inverted the ordering once doc_id reached 1e8, i.e. exactly at
    the corpus sizes the scale story advertises."""
    return F.struct(F.col("n_words"), (-F.col("doc_id")).alias("_tb"))


# --------------------------------------------------------------------------
# Incremental dedup index: near-dup detection at ingest WITHOUT corpus rescan
# --------------------------------------------------------------------------
def build_dedup_index(
    spark,
    index_path: str,
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 16,
    increment_id: str = "base",
) -> None:
    """Persist the MinHash-LSH dedup index for a corpus: per-doc band codes
    (``bands/``) and hashed distinct-shingle arrays (``shingles/``, the
    exact-verification data). Both land keyed by ``_increment_id`` with
    dynamic partition overwrite, so a replayed build rewrites exactly its
    own files (idempotent under at-least-once delivery — the
    refresh_hourly_incremental / refresh_ivf_incremental contract).

    Why this exists: at 100 TB the batch ``minhash_lsh_pairs`` rescan per
    ingest is the scale killer — a new increment must only (a) compute its
    OWN signatures (narrow, linear in the increment) and (b) shuffle-join
    its band codes against the stored band frame. The store is
    corpus-sized but narrow (ints only, no text)."""
    from ..sources.sinks import write_increment_partition

    sigs = minhash_signatures(docs, num_perm)
    write_increment_partition(
        _band_frame(sigs, num_perm, bands), f"{index_path}/bands", increment_id
    )
    write_increment_partition(
        with_shingles(docs, hashed=True), f"{index_path}/shingles", increment_id
    )


def dedup_increment(
    spark,
    index_path: str,
    increment: DataFrame,
    increment_id: str,
    threshold: float = 0.015,
    num_perm: int = 32,
    bands: int = 16,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """Fold a document increment into the persisted dedup index and return
    every near-dup pair (exact Jaccard >= threshold) INVOLVING an increment
    document — against the existing corpus AND within the increment.

    The increment lands first (idempotently, keyed by its increment_id), so
    candidate generation is ONE equi-join of the increment's band codes
    against the full stored band frame: work is |increment bands| x
    collision volume, never corpus x corpus. Verification reads only the
    colliding docs' stored shingle arrays. Equivalence law (tested): the
    result equals batch ``minhash_lsh_pairs`` over the whole corpus
    restricted to pairs touching the increment."""
    build_dedup_index(
        spark, index_path, increment,
        num_perm=num_perm, bands=bands, increment_id=increment_id,
    )
    store_bands = spark.read.parquet(f"{index_path}/bands")
    inc_bands = store_bands.where(F.col("_increment_id") == str(increment_id))
    cand = (
        inc_bands.alias("n")
        .join(
            store_bands.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bucket") == F.col("o.bucket"))
            & (F.col("n.doc_id") != F.col("o.doc_id")),
        )
        .select(
            F.least("n.doc_id", "o.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sh = spark.read.parquet(f"{index_path}/shingles").select("doc_id", "sh")
    return _verify_pairs_exact(sh, cand, threshold, broadcast_limit)
