"""Training-data pipeline operators as catalog entries.

Deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
search (brute-force + hyperplane-LSH cosine top-k), text analysis (quality,
language-ID, tokens, fingerprints), and multimodal plumbing — over the
driver's ``documents`` and ``embeddings`` tables.

Oracle notes: md5, word-splitting, and regexes are dialect-neutral; dot
products are explicit left folds mirrored by DuckDB ``list_reduce`` so
doubles match bit-exactly. MinHash/SimHash/LSH rely on xxhash64 (no DuckDB
equivalent) -> rows-only driver check, with recall tests against the exact
variants in tests/test_training_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from ..operators.multimodal import decode_media, media_meta, media_table, sample_frames
from ..operators.similarity import (
    _DOT as _SIM_DOT,
    _NORM as _SIM_NORM,
    _as_double as _sim_as_double,
    cosine_topk,
    hard_negatives,
    ivf_topk,
    lsh_topk,
    similar_pairs,
)
from ..operators.text import (
    BPE_TOKEN_RE,
    PII_PATTERNS,
    bpe_tokens,
    chunk_documents,
    doc_fingerprints,
    fingerprint,
    lang_id,
    redact_pii,
    text_quality,
    token_stats_by_lang,
)
from ..sources.adapter import load_table
from .catalog import register, scratch_dir, stage_result

_STOP = "['the','and','is','of','to','a','in','it','that','for']"


# DuckDB twin of sampling_queries.hash_bucket (same md5-prefix arithmetic).
def _duck_bucket_tq(expr: str) -> str:
    return f"(('0x' || substr(md5(cast({expr} AS VARCHAR)), 1, 8))::BIGINT)"
_MARK = {
    "en": "['the','and','is','of','to']",
    "es": "['el','la','de','que','y']",
    "de": "['der','die','und','das','ist']",
    "fr": "['le','les','et','des','une']",
}

# DuckDB left-fold dot product twin of similarity._DOT (0.0 + x == x in IEEE,
# so the missing explicit init matches Spark's aggregate start value).
_DDOT = "list_reduce(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
_DNORM = "sqrt(list_reduce(list_transform(generate_series(1, 64), i -> {a}[i] * {a}[i]), (x, y) -> x + y))"
# 16-dim variants for the dimension-truncated retriever (ann_recall_eval)
_TDOT = "list_reduce(list_transform(generate_series(1, 16), i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
_TNORM = "sqrt(list_reduce(list_transform(generate_series(1, 16), i -> {a}[i] * {a}[i]), (x, y) -> x + y))"


def _docs(
    spark: SparkSession, sf_dir: str, rebalance: bool = False
) -> DataFrame:
    """``rebalance=True`` opts a builder into the adapter's layout-adaptive
    scan repartition (round 16) — reserved for pipelines whose measured
    per-row scan-stage work dwarfs one shuffle of the raw text. A/B at
    sf0.1 (idle, 4-5 warm reps each, JIT flag live) kept exactly four:
    substring/boilerplate windows (3.3/3.6 s -> 0.92/0.80 s) and
    simhash + its audit (1.84 -> 0.91, 2.1 -> 1.25 s) — the per-window
    substring explode and the token-hash sign-accumulation are the
    expression classes heavy enough to pay. The ngram- and minhash-family
    builders measured FASTER WITHOUT it (their heavy stages are already
    parallel after the shingle-bucket repartition / Arrow batching), as
    did every events aggregation, so they stay plain. Every opt-in stays
    within its committed round-9 shuffle-volume budget."""
    return load_table(spark, sf_dir, "documents", rebalance=rebalance)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "text_quality",
    oracle=f"""
WITH t AS (SELECT doc_id, lower(trim(text)) AS t, string_split(lower(trim(text)), ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
    cast(length(t) AS INTEGER) AS n_chars_norm,
    cast(len(w) AS INTEGER) AS n_words,
    cast(len(regexp_extract_all(t, '{BPE_TOKEN_RE}')) AS INTEGER) AS n_tokens,
    cast(length(t) - length(regexp_replace(t, '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / nullif(cast(length(t) AS DOUBLE), 0.0) AS punct_ratio,
    cast(len(list_filter(w, x -> list_contains({_STOP}, x))) AS DOUBLE) / nullif(cast(len(w) AS DOUBLE), 0.0) AS stopword_ratio
  FROM t
)
SELECT *, CASE WHEN n_words >= 50 AND stopword_ratio >= 0.05 AND punct_ratio <= 0.2 THEN 'good'
               WHEN n_words >= 10 THEN 'fair' ELSE 'poor' END AS quality_tier
FROM m
""",
    doc="Per-document quality scoring: char/word/BPE-token counts, "
    "punctuation + stopword ratios, tiered label.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(_docs(spark, sf_dir))


@register(
    "lang_id",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w FROM documents),
s AS (
  SELECT doc_id, lang AS labeled_lang,
    cast(len(list_filter(w, x -> list_contains({_MARK["en"]}, x))) AS INTEGER) AS score_en,
    cast(len(list_filter(w, x -> list_contains({_MARK["es"]}, x))) AS INTEGER) AS score_es,
    cast(len(list_filter(w, x -> list_contains({_MARK["de"]}, x))) AS INTEGER) AS score_de,
    cast(len(list_filter(w, x -> list_contains({_MARK["fr"]}, x))) AS INTEGER) AS score_fr
  FROM t
)
SELECT *, CASE WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
               WHEN score_es > 0 AND score_es >= score_de AND score_es >= score_fr THEN 'es'
               WHEN score_de > 0 AND score_de >= score_fr THEN 'de'
               WHEN score_fr > 0 THEN 'fr'
               ELSE 'unknown' END AS predicted_lang
FROM s
""",
    doc="Marker-word language ID with deterministic tie-broken argmax.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


@register(
    "doc_fingerprints",
    oracle="""
SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
       substring(md5(lower(trim(text))), 1, 16) AS fingerprint16
FROM documents
""",
    doc="Content fingerprinting (md5 of normalized text).",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprints(_docs(spark, sf_dir))


@register(
    "token_stats_by_lang",
    oracle=f"""
SELECT lang, count(*) AS docs,
  cast(sum(cast(len(regexp_extract_all(lower(trim(text)), '{BPE_TOKEN_RE}')) AS BIGINT)) AS BIGINT) AS total_tokens,
  cast(sum(cast(len(string_split(lower(trim(text)), ' ')) AS BIGINT)) AS BIGINT) AS total_words,
  cast(sum(cast(len(regexp_extract_all(lower(trim(text)), '{BPE_TOKEN_RE}')) AS BIGINT)) AS DOUBLE) / cast(count(*) AS DOUBLE) AS avg_tokens_per_doc
FROM documents GROUP BY lang
""",
    doc="Corpus token accounting grouped by labeled language.",
)
def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats_by_lang(_docs(spark, sf_dir))


_PII_E, _PII_I, _PII_P = (p[1] for p in PII_PATTERNS)


@register(
    "pii_redaction_audit",
    oracle=f"""
WITH s1 AS (
  SELECT doc_id, source,
    cast(len(regexp_extract_all(text, '{_PII_E}')) AS BIGINT) AS n_email,
    regexp_replace(text, '{_PII_E}', '[EMAIL]', 'g') AS t1
  FROM documents
), s2 AS (
  SELECT *, cast(len(regexp_extract_all(t1, '{_PII_I}')) AS BIGINT) AS n_ip,
    regexp_replace(t1, '{_PII_I}', '[IP]', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT *, cast(len(regexp_extract_all(t2, '{_PII_P}')) AS BIGINT) AS n_phone,
    regexp_replace(t2, '{_PII_P}', '[PHONE]', 'g') AS t3
  FROM s2
)
SELECT source,
  count(*) AS docs,
  cast(count(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 END) AS BIGINT) AS docs_with_pii,
  cast(sum(n_email) AS BIGINT) AS emails_redacted,
  cast(sum(n_ip) AS BIGINT) AS ips_redacted,
  cast(sum(n_phone) AS BIGINT) AS phones_redacted,
  cast(sum(len(t3)) AS BIGINT) AS redacted_chars,
  min(md5(t3)) AS min_redacted_md5,
  max(md5(t3)) AS max_redacted_md5
FROM s3 GROUP BY source
""",
    doc="PII scrub audit (operators/text.py::redact_pii): emails, IPv4s, "
    "phone-like digit runs removed by chained identical regexes in both "
    "engines; per-source counts plus min/max md5 of the redacted text prove "
    "the scrubbed CONTENT matches cross-engine, not just the counts. "
    "Scale: narrow regexp expressions at scan speed; the one shuffle is the "
    "tiny per-source audit agg. Recall on planted PII is unit-tested "
    "(tests/test_training_ops.py).",
)
def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = redact_pii(_docs(spark, sf_dir))
    any_pii = (F.col("n_email") + F.col("n_ip") + F.col("n_phone")) > 0
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.count(F.when(any_pii, 1)).alias("docs_with_pii"),
        F.sum("n_email").cast("long").alias("emails_redacted"),
        F.sum("n_ip").cast("long").alias("ips_redacted"),
        F.sum("n_phone").cast("long").alias("phones_redacted"),
        F.sum(F.length("text_redacted").cast("long")).cast("long").alias("redacted_chars"),
        F.min(F.md5("text_redacted")).alias("min_redacted_md5"),
        F.max(F.md5("text_redacted")).alias("max_redacted_md5"),
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies, count(*) > 1 AS has_duplicates
FROM documents GROUP BY 1
""",
    headline=True,
    doc="Exact dedup via hash-groupBy on the md5 content fingerprint.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


_NGRAM_PAIRS_CTES = """tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tok FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(tok) >= 3
         THEN list_transform(generate_series(1, len(tok) - 2), i -> array_to_string(tok[i:i+2], ' '))
         ELSE []::VARCHAR[] END)) AS shingle
  FROM tok
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b,
         cast(common AS DOUBLE) / cast(ca.n + cb.n - common AS DOUBLE) AS jaccard
  FROM common
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
  WHERE cast(common AS DOUBLE) / cast(ca.n + cb.n - common AS DOUBLE) >= 0.015
)"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"WITH {_NGRAM_PAIRS_CTES}\nSELECT doc_a, doc_b, jaccard FROM jpairs",
    headline=True,
    doc="Exact word-3-gram Jaccard near-dup pairs via inverted shingle index.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.015)


_CONTAINMENT_CTES = """tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tok FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(tok) >= 3
         THEN list_transform(generate_series(1, len(tok) - 2), i -> array_to_string(tok[i:i+2], ' '))
         ELSE []::VARCHAR[] END)) AS shingle
  FROM tok
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
cpairs AS (
  SELECT doc_a, doc_b,
         cast(common AS DOUBLE) / cast(least(ca.n, cb.n) AS DOUBLE) AS containment,
         CASE WHEN ca.n <= cb.n THEN doc_a ELSE doc_b END AS contained_doc
  FROM common
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
  WHERE ca.n > 0 AND cb.n > 0
    AND cast(common AS DOUBLE) / cast(least(ca.n, cb.n) AS DOUBLE) >= 0.08
)"""


@register(
    "dedup_ngram_containment",
    oracle=f"WITH {_CONTAINMENT_CTES}\nSELECT doc_a, doc_b, containment, contained_doc FROM cpairs",
    doc="Asymmetric subset/quote duplication: word-3-gram containment "
    "|A∩B| / min(|A|,|B|) >= 0.08 with the contained (smaller) side "
    "identified. Catches excerpt and boilerplate duplication that "
    "union-normalized Jaccard scores near zero. Same single-scan inverted "
    "shingle index as dedup_ngram_jaccard (operators/dedup.py::"
    "_ngram_pair_counts) — the metric is a final projection, so the "
    "shuffle profile is identical and the max_df hot-shingle cap applies "
    "unchanged.",
)
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(_docs(spark, sf_dir), threshold=0.08)


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled-CTE DuckDB twin of BPE merge induction: sN/pN/mN chains —
    state, weighted adjacent-pair counts, argmax merge — mirroring the
    engine's per-iteration plan exactly. Implementation notes hard-won
    against DuckDB 1.0: (a) state CTEs are MATERIALIZED — each is consumed
    twice (pair counts + next state), and inlining both doubles the
    expression tree per round AND triggers a vectorized-lambda
    row-misalignment bug that corrupts one row's fold; (b) the merge
    application is therefore pure string surgery, no lambdas: symbols
    serialize with a two-space separator and the pair pattern replaces
    three times (pass 1 takes alternating occurrences of an adjacent
    chain — the consumed trailing separator blinds the immediate next
    occurrence — pass 2 the rest; pass 3 is margin), which equals BPE's
    greedy left-to-right semantics for every a<>b merge and for
    identical-symbol runs up to length 3 (longer same-symbol runs could
    pair in a different ORDER than strict greedy — same multiset — a
    documented non-issue on word-character vocabularies)."""
    parts = [
        """w AS (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)""",
        """s0 AS MATERIALIZED (
  SELECT word, cnt,
    '  ' || array_to_string(list_append(list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)), '</w>'), '  ') || '  ' AS ser
  FROM w
)""",
    ]
    for k in range(n_merges):
        parts.append(
            f"""t{k} AS (
  SELECT cnt, string_split(trim(ser), '  ') AS syms FROM s{k}
)""")
        parts.append(
            f"""p{k} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, sum(cnt)::BIGINT AS n
  FROM t{k}, unnest(generate_series(1, len(syms) - 1)) AS tt(i)
  GROUP BY 1, 2
)"""
        )
        parts.append(
            f"m{k} AS (SELECT a, b, n FROM p{k} ORDER BY n DESC, a, b LIMIT 1)"
        )
        if k < n_merges - 1:
            pat = "'  ' || m.a || '  ' || m.b || '  '"
            rep = "'  ' || m.a || m.b || '  '"
            parts.append(
                f"""s{k + 1} AS MATERIALIZED (
  SELECT s.word, s.cnt,
    replace(replace(replace(s.ser, {pat}, {rep}), {pat}, {rep}), {pat}, {rep}) AS ser
  FROM s{k} s, m{k} m
)"""
            )
    finals = "\nUNION ALL\n".join(
        f"SELECT {k + 1} AS rank, a AS left_sym, b AS right_sym, a || b AS merged, n AS pair_count FROM m{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + finals


_BPE_MERGES = 6


@register(
    "bpe_merge_induction",
    oracle=_bpe_oracle(_BPE_MERGES),
    doc="BPE tokenizer TRAINING, the first 6 merge rules: lowercase "
    "whitespace words aggregate to a (word, count) vocabulary, each word "
    "splits to character symbols + '</w>'; per round the corpus-weighted "
    "most frequent ADJACENT symbol pair (count desc, pair asc tiebreak) "
    "becomes a merge rule and is applied everywhere with BPE's greedy "
    "left-to-right non-overlapping semantics (an explicit left fold with "
    "a consumed-index accumulator — 'aaa' under merge (a,a) yields "
    "[aa, a], never overlapping). Fully lazy and distributed: each round "
    "is a map-combinable pair-count aggregate + a TakeOrdered(1) "
    "broadcast back into the fold — NO driver-side collect; the chained "
    "plan materializes once. Scale: state is the WORD VOCABULARY "
    "(Heaps-law-bounded), not the corpus — the word-count pre-aggregation "
    "is the one corpus-sized pass, exactly how industrial BPE trainers "
    "shard. Oracle: the same rounds unrolled as chained CTEs with a "
    "list-fold merge application — value-exact cross-engine including "
    "tie-breaks.",
)
def q_bpe_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # The word vocabulary is the ONLY corpus-sized computation; every one of
    # the _BPE_MERGES union branches re-derives its merge-state chain from
    # it, so without a persist the tokenize+groupBy scan executes once per
    # branch (~6x the corpus reads). Persisting caps the corpus at ONE scan;
    # the cache is vocab-sized (Heaps-law-bounded), same pattern as
    # q_unigram_surprisal_filter. No unpersist: the builder returns a lazy
    # plan, so the cache must outlive this function (driver-side action
    # happens later); blocks are evicted LRU / on session stop.
    w = (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    state = w.select(
        "word", "cnt", F.expr("array_append(split(word, ''), '</w>')").alias("syms")
    )
    merge_fold = """
aggregate(
  sequence(1, size(syms)),
  struct(0 AS c, cast(array() AS array<string>) AS o),
  (acc, i) -> CASE
     WHEN i <= acc.c THEN acc
     WHEN i < size(syms) AND element_at(syms, i) = _ma AND element_at(syms, i + 1) = _mb
       THEN struct(i + 1 AS c, array_append(acc.o, concat(_ma, _mb)) AS o)
     ELSE struct(i AS c, array_append(acc.o, element_at(syms, i)) AS o)
  END,
  acc -> acc.o)
"""
    pair_gen = """
explode(CASE WHEN size(syms) >= 2
  THEN transform(sequence(1, size(syms) - 1),
       i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))
  ELSE cast(array() AS array<struct<a: string, b: string>>) END)
"""
    merge_rows = []
    for k in range(_BPE_MERGES):
        pairs = state.select("cnt", F.expr(pair_gen).alias("p")).select(
            "p.a", "p.b", "cnt"
        )
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
        )
        merge_rows.append(
            best.select(
                F.lit(k + 1).alias("rank"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                F.concat("a", "b").alias("merged"),
                F.col("n").alias("pair_count"),
            )
        )
        if k < _BPE_MERGES - 1:
            state = state.crossJoin(
                F.broadcast(
                    best.select(F.col("a").alias("_ma"), F.col("b").alias("_mb"))
                )
            ).select("word", "cnt", F.expr(merge_fold).alias("syms"))
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


@register(
    "dedup_substring_windows",
    oracle="""
WITH wins AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN length(text) >= 40
         THEN list_transform(generate_series(1, length(text) - 39), i -> substr(text, i, 40))
         ELSE []::VARCHAR[] END)) AS win
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_windows
FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
    doc="Verbatim-substring near-dup pairs (operators/dedup.py::"
    "substring_window_pairs): documents sharing any exact 40-character "
    "window (all positions, per-doc distinct window sets), with the count "
    "of distinct shared windows per pair — the character-level exact "
    "companion to token-shingle Jaccard, i.e. the long-verbatim-span "
    "removal practiced in pretraining dedup (overlapping char windows "
    "approximate a suffix-array substring match: any copied span "
    ">= 40 chars is caught exactly). Same single-scan inverted-index "
    "plan as the n-gram operators — two map-side-combinable shuffles, "
    "O(total chars) index rows (what a suffix-array build costs too); "
    "boilerplate windows cap via max_df, and at 100 TB a stride>1 first "
    "pass feeds a stride-1 verify. Oracle: independent window self-join.",
)
def q_dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_window_pairs

    return substring_window_pairs(_docs(spark, sf_dir, rebalance=True), window=40)


@register(
    "dedup_impact_report",
    oracle=f"""
WITH t AS (
  SELECT doc_id, md5(lower(trim(text))) AS fp,
    cast(len(regexp_extract_all(lower(trim(text)), '{{tok}}')) AS BIGINT) AS n_tokens
  FROM documents
),
keeps AS (SELECT fp, min(doc_id) AS keep_doc_id, count(*) AS copies FROM t GROUP BY fp)
SELECT
  (SELECT count(*) FROM t)::BIGINT AS n_docs_before,
  (SELECT count(*) FROM keeps)::BIGINT AS n_docs_after,
  (SELECT count(*) FROM keeps WHERE copies > 1)::BIGINT AS n_dup_clusters,
  ((SELECT count(*) FROM t) - (SELECT count(*) FROM keeps))
    / (SELECT cast(count(*) AS DOUBLE) FROM t) AS docs_removed_share,
  (SELECT sum(n_tokens) FROM t)::BIGINT AS n_tokens_before,
  (SELECT sum(t.n_tokens) FROM t JOIN keeps k ON t.doc_id = k.keep_doc_id)::BIGINT AS n_tokens_after,
  ((SELECT sum(n_tokens) FROM t)
   - (SELECT sum(t.n_tokens) FROM t JOIN keeps k ON t.doc_id = k.keep_doc_id))
    / (SELECT cast(sum(n_tokens) AS DOUBLE) FROM t) AS tokens_removed_share
""".replace("{tok}", BPE_TOKEN_RE),
    doc="The curation run's headline number: ONE row quantifying what exact "
    "dedup removes — documents and BPE tokens before/after keeping the "
    "min-doc_id copy per content fingerprint, duplicate-cluster count, "
    "and removed shares. Every curation pipeline reports exactly this "
    "before/after table; here it is a query, not a log line. Plan: one "
    "scan computes fingerprints and token counts together, one "
    "map-combinable fingerprint groupBy, a keep-side semi-join for the "
    "surviving token mass, and a single-row final aggregate — no second "
    "corpus scan. Shares divide exact integer counts, so the doubles are "
    "bit-identical cross-engine.",
)
def q_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.size(bpe_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    keeps = t.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("copies")
    )
    totals = t.agg(
        F.count(F.lit(1)).alias("n_docs_before"),
        F.sum("n_tokens").alias("n_tokens_before"),
    )
    keep_stats = (
        t.join(
            keeps.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"
        ).agg(
            F.count(F.lit(1)).alias("n_docs_after"),
            F.sum("n_tokens").alias("n_tokens_after"),
        )
    )
    clusters = keeps.where(F.col("copies") > 1).agg(
        F.count(F.lit(1)).alias("n_dup_clusters")
    )
    return (
        totals.crossJoin(keep_stats)
        .crossJoin(clusters)
        .select(
            "n_docs_before",
            "n_docs_after",
            "n_dup_clusters",
            (
                (F.col("n_docs_before") - F.col("n_docs_after"))
                / F.col("n_docs_before").cast("double")
            ).alias("docs_removed_share"),
            "n_tokens_before",
            "n_tokens_after",
            (
                (F.col("n_tokens_before") - F.col("n_tokens_after"))
                / F.col("n_tokens_before").cast("double")
            ).alias("tokens_removed_share"),
        )
    )


@register(
    "boilerplate_windows",
    oracle="""
WITH wins AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN length(text) >= 40
         THEN list_transform(generate_series(1, length(text) - 39), i -> substr(text, i, 40))
         ELSE []::VARCHAR[] END)) AS win
  FROM documents
),
df AS (SELECT win, count(*) AS doc_freq FROM wins GROUP BY win),
tot AS (SELECT count(*) AS n_docs FROM documents)
SELECT win AS window_text, doc_freq,
  doc_freq / cast(n_docs AS DOUBLE) AS doc_share
FROM df, tot WHERE doc_freq >= 3
ORDER BY doc_freq DESC, window_text LIMIT 50
""",
    doc="Boilerplate mining: the 40-char windows appearing in the MOST "
    "documents (df >= 3, top-50) with their document share — the curation "
    "step that finds site-wide headers/footers/navigation chrome BEFORE "
    "near-dup detection, so boilerplate can be stripped (or max_df-capped "
    "in the pair index) instead of welding unrelated pages into one giant "
    "duplicate cluster. Reuses the substring window projection "
    "(operators/dedup.py::substring_window_pairs' index side): one scan, "
    "one map-combinable window-count shuffle, TakeOrdered top-50 — never "
    "pair generation. At 100 TB this is the cheap pre-pass whose output "
    "feeds the dedup operators' max_df/stoplist.",
)
def q_boilerplate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, rebalance=True)
    wins = docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                """
                CASE WHEN length(text) >= 40
                     THEN array_distinct(transform(
                            sequence(1, length(text) - 39),
                            i -> substring(text, i, 40)))
                     ELSE array()
                END
                """
            )
        ).alias("win"),
    ).where(F.col("win").isNotNull())
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= 3)
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("win").alias("window_text"),
            "doc_freq",
            (F.col("doc_freq") / F.col("n_docs").cast("double")).alias("doc_share"),
        )
        .orderBy(F.col("doc_freq").desc(), "window_text")
        .limit(50)
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # xxhash64-based; verified by recall test vs exact Jaccard
    headline=True,
    doc="MinHash(32) + 16-band LSH candidates, exact-Jaccard verified "
    "(no false positives; recall tested in tests/test_training_ops.py).",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.015)


@register(
    "dedup_simhash",
    oracle=None,  # xxhash64-based
    doc="SimHash-64 near-dup pairs (Hamming <= 8) via 4x16-bit band blocking.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir, rebalance=True), max_hamming=8)


@register(
    "dedup_minhash_lsh_audit",
    # In-band exactness audit (round-13 verdict item 3): the full MinHash->
    # banding->verify pipeline runs against the declarative exact-Jaccard
    # pair set at the 0.5 operating gate, where the 16x2 banding finds
    # every exact pair on the gate corpora (the empirical fact pinned by
    # tests/test_round6_ops.py::test_lsh_oracle_full_recall_guard) and the
    # exact verification stage guarantees no false positives by
    # construction. DuckDB twins the EXACT side and asserts the law: every
    # audited pair is in BOTH sets. A missed pair surfaces as
    # in_lsh=false, a false positive as an extra row — either way a
    # row-count/hash mismatch the driver catches.
    oracle=f"""WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard, TRUE AS in_lsh, TRUE AS in_exact
FROM jpairs WHERE jaccard >= 0.5""",
    doc="Driver-checkable audit of the MinHash-LSH dedup path "
    "(operators/dedup.py::minhash_lsh_pairs): full-outer join of the LSH "
    "pipeline's verified pairs against exact inverted-index Jaccard pairs "
    "at the 0.5 gate, emitting membership flags for both sides. The LSH "
    "jaccard values are exact (candidate-local verification over the same "
    "distinct-shingle sets), so matched rows agree bit-exactly. Scale: "
    "both sides are near-linear (banded buckets / inverted shingle "
    "index); the audit join is pair-set-sized.",
)
def q_dedup_minhash_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    lsh = minhash_lsh_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j_lsh")
    )
    exact = ngram_jaccard_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j_exact")
    )
    return (
        exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("j_exact", "j_lsh").alias("jaccard"),
            F.col("j_lsh").isNotNull().alias("in_lsh"),
            F.col("j_exact").isNotNull().alias("in_exact"),
        )
    )


@register(
    "split_leakage_audit",
    # Same md5-prefix bucketing as train_val_test_split (DuckDB twin
    # _duck_bucket_tq), same exact-Jaccard pair CTE as the dedup entries:
    # the oracle recomputes split assignment AND the >=0.5 near-dup graph
    # independently, so both the split rule and the leak accounting are
    # value-gated.
    oracle=f"""
WITH {_NGRAM_PAIRS_CTES},
sp AS (
  SELECT doc_id,
    CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id, {_duck_bucket_tq('doc_id')} % 10 AS b FROM documents)
)
SELECT split_lo, split_hi, n_pairs, (split_lo <> split_hi) AS is_leak FROM (
  SELECT least(sa.split, sb.split) AS split_lo,
         greatest(sa.split, sb.split) AS split_hi,
         count(*) AS n_pairs
  FROM jpairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b
  WHERE p.jaccard >= 0.5
  GROUP BY 1, 2
)""",
    doc="Split-leakage audit — the eval-integrity check a training split "
    "needs before anyone trusts a benchmark number: every near-duplicate "
    "pair (exact word-3-gram Jaccard >= 0.5, the same graph the dedup "
    "entries verify) classified by the split pair it straddles under the "
    "deterministic hash split of train_val_test_split. A cross-split row "
    "(is_leak) means an eval document has a near-copy in train — the "
    "contamination n-gram decontamination exists to remove. Scale: the "
    "pair graph is the near-linear LSH/inverted-index path; the split "
    "join ships (doc_id, split) pairs only, and the output is bounded by "
    "the 6 split-pair classes.",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sampling_queries import hash_bucket

    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id")) % 10
    sp = docs.select(
        "doc_id",
        F.when(b <= 7, "train").when(b == 8, "val").otherwise("test").alias("split"),
    )
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("_sa")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("_sb")),
            "doc_b",
        )
        .groupBy(
            F.least("_sa", "_sb").alias("split_lo"),
            F.greatest("_sa", "_sb").alias("split_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


#: Planted-duplicate id offset for the SimHash audit — far above any real
#: doc_id so planted ids never collide with corpus ids.
_SIMHASH_PLANT_OFFSET = 1_000_000


@register(
    "dedup_simhash_audit",
    # SimHash signatures are xxhash64-based (no DuckDB twin), but the
    # pipeline's hamming-0 law IS oracle-checkable: identical text =>
    # identical token hashes => identical simhash, and the 4x16-bit band
    # blocking is pigeonhole-complete for hamming <= 3, so an exact
    # duplicate MUST surface as a hamming-0 pair. The gate corpora carry
    # no exact dups at sf0.01, so the audit PLANTS them in-band: re-id'd
    # copies of the first 40 docs, fed through the real signature/banding/
    # verify pipeline. The oracle enumerates the planted pairs with the
    # law values (hamming=0, found=true); a signature nondeterminism or a
    # banding bug flips found/hamming and fails the hash check.
    oracle=f"""
SELECT doc_id AS doc_a, doc_id + {_SIMHASH_PLANT_OFFSET} AS doc_b,
       CAST(0 AS INTEGER) AS hamming, TRUE AS found
FROM documents WHERE doc_id < 40""",
    doc="Driver-checkable audit of the SimHash near-dup path "
    "(operators/dedup.py::simhash_pairs): plant exact copies of the first "
    "40 documents under offset ids, run the full simhash pipeline over "
    "the augmented corpus, and semi-join the planted pairs — each must be "
    "found at hamming 0 (identical tokens => identical signature; band "
    "blocking is complete at hamming 0). Scale: plants are a constant-"
    "size augmentation; the pipeline cost profile is unchanged.",
)
def q_dedup_simhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, rebalance=True).select("doc_id", "text")
    plants = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + F.lit(_SIMHASH_PLANT_OFFSET)).alias("doc_id"), "text"
    )
    pairs = simhash_pairs(docs.unionByName(plants), max_hamming=8)
    planted = docs.where(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + F.lit(_SIMHASH_PLANT_OFFSET)).alias("doc_b"),
    )
    return planted.join(pairs, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce("hamming", F.lit(-1)).alias("hamming"),
        F.col("hamming").isNotNull().alias("found"),
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
@register(
    "embedding_cosine_topk",
    oracle=f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
scored AS (
  SELECT query_id, vec_id,
    {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) AS cosine
  FROM base, q WHERE vec_id <> query_id
)
SELECT query_id, vec_id AS neighbor_id, cosine, cast(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    headline=True,
    doc="Brute-force cosine top-5 for 20 query vectors — the ANN correctness "
    "baseline. Left-fold dot products match DuckDB list_reduce bit-exactly.",
)
def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(_emb(spark, sf_dir), num_queries=20, k=5)


@register(
    "embedding_similar_pairs",
    oracle=f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    {_DDOT.format(a="a.v", b="b.v")} / ({_DNORM.format(a="a.v")} * {_DNORM.format(a="b.v")}) AS cosine
  FROM base a, base b
  WHERE a.vec_id < b.vec_id
)
SELECT * FROM scored WHERE cosine >= 0.35
""",
    doc="Embedding-cosine near-duplicate pairs (all-pairs form, bounded ids).",
)
def q_embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similar_pairs(_emb(spark, sf_dir), threshold=0.35, max_id=300)


# Normalized truncated rank-biased-overlap weights, p=0.9, depth 5: a pair
# matched at ranks (ra, rb) contributes W[max(ra, rb)] (the tail weight of
# its worse rank), normalized by the identity total sum(W) so identical
# top-5 rankings score 1.0 (to within one float rounding). Precomputed in
# Python and embedded as the SAME decimal literals in Spark and DuckDB so
# the doubles are bit-equal.
_RBO_W = [
    "0.4965617445239432",
    "0.2523674635540035",
    "0.1424800371175307",
    "0.07654758125564701",
    "0.03204317354887549",
]
_RBO_CASE_SQL = (
    # per-branch DOUBLE casts: bare decimal literals parse as DECIMAL in
    # BOTH engines, and a decimal fold would diverge from the double one
    "CASE greatest(ra, rb) "
    + " ".join(
        f"WHEN {m + 1} THEN CAST({w} AS DOUBLE)" for m, w in enumerate(_RBO_W)
    )
    + " END"
)


@register(
    "retrieval_rbo_eval",
    oracle=f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
tbase AS (SELECT vec_id, (embedding[1:16])::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
tq AS (SELECT vec_id AS query_id, v AS qv FROM tbase WHERE vec_id < 20),
exact AS (
  SELECT query_id, vec_id AS nid, rank AS ra FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) DESC,
        vec_id) AS rank
    FROM base, q WHERE vec_id <> query_id
  ) WHERE rank <= 5
),
approx AS (
  SELECT query_id, vec_id AS nid, rank AS rb FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        {_TDOT.format(a="qv", b="v")} / ({_TNORM.format(a="qv")} * {_TNORM.format(a="v")}) DESC,
        vec_id) AS rank
    FROM tbase, tq WHERE vec_id <> query_id
  ) WHERE rank <= 5
),
matched AS (
  SELECT e.query_id, e.nid, {_RBO_CASE_SQL} AS w
  FROM exact e JOIN approx a ON a.query_id = e.query_id AND a.nid = e.nid
)
SELECT q.query_id,
  cast(count(m.nid) AS BIGINT) AS n_matched,
  coalesce(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(m.w ORDER BY m.nid)), (x, y) -> x + y), CAST(0.0 AS DOUBLE)) AS rbo_at_5
FROM q LEFT JOIN matched m USING (query_id)
GROUP BY q.query_id
""",
    doc="Rank-biased overlap (RBO, p=0.9, truncated depth 5, normalized so "
    "identical rankings score 1.0) between the deterministic "
    "dimension-truncated retriever and exact brute-force cosine — the "
    "top-weighted ranking-similarity metric that complements "
    "ann_recall_eval's set overlap: recall ignores ORDER, RBO rewards "
    "agreeing at the top, which is what retrieval quality means in "
    "practice. A matched neighbor contributes the tail weight of its "
    "worse rank; per-query summation is an ORDERED fold (nid order) so "
    "the float totals are bit-identical cross-engine, with the weights "
    "precomputed once and embedded as identical decimal literals in both "
    "engines. Same query-panel cost shape as the other eval operators.",
)
def q_retrieval_rbo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    truncated = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    exact = cosine_topk(emb, num_queries=20, k=5).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.col("rank").alias("ra")
    )
    approx = cosine_topk(truncated, num_queries=20, k=5, dim=16).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.col("rank").alias("rb")
    )
    w_expr = F.expr(_RBO_CASE_SQL)
    matched = exact.join(approx, ["query_id", "nid"]).select(
        "query_id", "nid", w_expr.alias("w")
    )
    panel = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        panel.join(matched, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.count("nid").cast("long").alias("n_matched"),
            F.coalesce(
                F.expr(
                    "aggregate(array_sort(collect_list(struct(nid, w))), "
                    "cast(0.0 AS DOUBLE), (acc, x) -> acc + x.w)"
                ),
                F.lit(0.0),
            ).alias("rbo_at_5"),
        )
    )


@register(
    "knn_label_consistency",
    oracle=f"""
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv FROM base WHERE vec_id < 100),
scored AS (
  SELECT query_id, qlabel, vec_id, label AS nlabel,
    {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) AS cosine
  FROM base, q WHERE vec_id <> query_id
),
topk AS (
  SELECT query_id, qlabel, nlabel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= 5
)
SELECT query_id AS vec_id, qlabel AS label,
  cast(count(CASE WHEN nlabel = qlabel THEN 1 END) AS BIGINT) AS n_agree,
  count(CASE WHEN nlabel = qlabel THEN 1 END) / 5.0 AS agreement,
  count(CASE WHEN nlabel = qlabel THEN 1 END) / 5.0 < 0.4 AS flagged
FROM topk GROUP BY 1, 2
""",
    doc="kNN label-consistency audit — the classic mislabeled-example "
    "detector for labeled training sets: for each vector in the audited "
    "panel (first 100 ids), the fraction of its 5 exact-cosine nearest "
    "neighbors sharing its label; low agreement (< 0.4) flags a likely "
    "label error for human review. Same physical shape as cosine_topk "
    "(broadcast panel, one narrow corpus pass, partitioned top-k window) "
    "with the label comparison folded into the final panel-sized "
    "aggregate; at 100 TB the neighbor search swaps to the LSH/IVF "
    "candidate path and this scoring stage is unchanged. Value-exact "
    "oracle via the proven IEEE cosine folds.",
)
def q_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    labels = emb.select("vec_id", "label")
    topk = cosine_topk(emb, num_queries=100, k=5)
    joined = (
        topk.join(
            labels.selectExpr("vec_id AS query_id", "label AS qlabel"),
            "query_id",
        )
        .join(
            labels.selectExpr("vec_id AS neighbor_id", "label AS nlabel"),
            "neighbor_id",
        )
    )
    agree = F.count(F.when(F.col("nlabel") == F.col("qlabel"), 1))
    return (
        joined.groupBy(
            F.col("query_id").alias("vec_id"), F.col("qlabel").alias("label")
        )
        .agg(
            agree.cast("long").alias("n_agree"),
            (agree / F.lit(5.0)).alias("agreement"),
            ((agree / F.lit(5.0)) < 0.4).alias("flagged"),
        )
    )


@register(
    "semantic_dedup_keep",
    oracle=f"""
WITH RECURSIVE base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
),
jp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM base a, base b
  WHERE a.vec_id < b.vec_id
    AND {_DDOT.format(a="a.v", b="b.v")} / ({_DNORM.format(a="a.v")} * {_DNORM.format(a="b.v")}) >= 0.35
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM jp
  UNION ALL SELECT vec_b, vec_a FROM jp
),
reach AS (
  SELECT vec_id AS src, vec_id AS node FROM base
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT src AS vec_id, min(node) AS component_id FROM reach GROUP BY src),
scored AS (
  SELECT c.component_id, b.vec_id, {_DNORM.format(a="b.v")} AS nrm
  FROM comp c JOIN base b USING (vec_id)
),
ranked AS (
  SELECT component_id, vec_id, nrm,
    row_number() OVER (PARTITION BY component_id ORDER BY nrm DESC, vec_id) AS rk,
    count(*) OVER (PARTITION BY component_id) AS csize
  FROM scored
)
SELECT component_id, csize::BIGINT AS cluster_size,
  vec_id AS keep_vec_id, nrm AS keep_norm,
  (csize - 1)::BIGINT AS dropped
FROM ranked WHERE rk = 1 AND csize > 1
""",
    doc="Semantic (embedding-space) dedup with canonical-copy selection — "
    "the SemDeDup-style curation step: connected components over the "
    "cosine>=0.35 near-dup pair graph (operators/dedup.py::"
    "connected_components reused verbatim on embedding ids), then within "
    "each multi-member cluster KEEP the highest-L2-norm vector (deter-"
    "ministic proxy for the most-informative copy; vec_id tiebreak) and "
    "account the drops. Composes three proven pieces — bit-exact cosine "
    "fold pairs, iterative min-label components, per-cluster argmax — so "
    "the oracle (recursive-CTE closure + windowed argmax over the same "
    "IEEE folds) is value-exact including the norm ordering. Scale: pair "
    "generation swaps to the LSH/IVF candidate path at 100 TB (documented "
    "in the ANN entries); components/selection cost is cluster-bounded.",
)
def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.dedup import connected_components

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") < 300)
    pairs = similar_pairs(emb, threshold=0.35, max_id=300)
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    comp = connected_components(
        base.select(F.col("vec_id").alias("doc_id")), edges, max_iter=25
    ).select(F.col("doc_id").alias("vec_id"), "component_id")
    nrm = F.expr(
        "sqrt(aggregate(transform(embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)), "
        "cast(0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    scored = base.select("vec_id", nrm.alias("nrm")).join(comp, "vec_id")
    w = Window.partitionBy("component_id").orderBy(F.col("nrm").desc(), "vec_id")
    wc = Window.partitionBy("component_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .withColumn("csize", F.count(F.lit(1)).over(wc))
        .where((F.col("rk") == 1) & (F.col("csize") > 1))
        .select(
            "component_id",
            F.col("csize").cast("long").alias("cluster_size"),
            F.col("vec_id").alias("keep_vec_id"),
            F.col("nrm").alias("keep_norm"),
            (F.col("csize") - 1).cast("long").alias("dropped"),
        )
    )


@register(
    "ann_lsh_topk",
    oracle=None,  # approximate by design; recall measured vs exact in tests
    headline=True,
    doc="Random-hyperplane LSH top-5 (4 tables x 8 bits), exact-cosine "
    "verified candidates — the 100 TB scale path for similarity search.",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_topk(_emb(spark, sf_dir), num_queries=20, k=5)


@register(
    "ann_ivf_topk",
    oracle=None,  # approximate by design; recall measured vs exact in tests
    headline=True,
    doc="IVF coarse-quantizer top-5 (16 spherical k-means cells, 6 probes), "
    "exact-cosine verified — the partition-the-corpus ANN scale path.",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(_emb(spark, sf_dir), num_queries=20, k=5)


# Exact-side CTE shared by the two ANN audit oracles: brute-force cosine
# top-5 with rank (the same frame embedding_cosine_topk twins).
_ANN_EXACT_CTE = f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
exact AS (
  SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) DESC,
        vec_id) AS rank
    FROM base, q WHERE vec_id <> query_id
  ) WHERE rank <= 5
)"""


def _ann_audit_oracle(retriever: str) -> str:
    return f"""
WITH {_ANN_EXACT_CTE}
SELECT '{retriever}' AS retriever,
  cast(count(DISTINCT query_id) AS BIGINT) AS n_queries,
  cast(max(rank) AS INTEGER) AS k,
  cast(count(*) AS BIGINT) AS n_exact,
  TRUE AS recall_ge_floor,
  TRUE AS cosine_verified,
  TRUE AS ranks_valid
FROM exact
"""


def _ann_audit(
    spark: SparkSession, sf_dir: str, retriever: str, fn, floor: float
) -> DataFrame:
    """Shared in-band recall@k-vs-exact audit (round-13 verdict item 3):
    Spark computes BOTH retrievals plus three audit laws —
    (a) recall@5 vs exact brute-force >= the pinned floor (the floors and
    their measured margins live together in plans/audit_constants.py),
    (b) every reported cosine equals the independently recomputed exact
    cosine for that (query, neighbor) pair, and (c) per-query rank
    contract (<= k rows, ranks dense from 1, cosine non-increasing with
    vec_id tiebreak). DuckDB twins the exact side's cardinalities and
    pins the law booleans: a recall regression, a cosine corruption, or a
    rank-contract break flips a boolean and fails the driver hash check.
    Scale: all audited frames are query-panel-sized (100 rows)."""
    emb = _emb(spark, sf_dir)
    exact = cosine_topk(emb, num_queries=20, k=5)
    approx = fn(emb, num_queries=20, k=5)
    hit = exact.join(
        approx.select("query_id", "neighbor_id", F.lit(1).alias("hit")),
        ["query_id", "neighbor_id"],
        "left",
    ).agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.max("rank").cast("int").alias("k"),
        F.count(F.lit(1)).alias("n_exact"),
        (
            F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1)) >= F.lit(floor)
        ).alias("recall_ge_floor"),
    )
    # (b) independent cosine recompute over the approx rows (same fold as
    # the exact operator, so equality is bitwise; 1e-9 absorbs nothing).
    base = emb.select("vec_id", _sim_as_double("embedding").alias("v"))
    qv = base.select(F.col("vec_id").alias("query_id"), F.col("v").alias("q"))
    from ..operators.similarity import parsed_expr as _parsed_expr

    recos = _parsed_expr(
        _SIM_DOT.format(a="q", b="v")
        + " / (" + _SIM_NORM.format(a="q") + " * " + _SIM_NORM.format(a="v") + ")"
    )
    cchk = (
        approx.join(base.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(qv, "query_id")
        .select((F.abs(F.col("cosine") - recos) < 1e-9).alias("ok"))
        .agg(F.min("ok").alias("cosine_verified"))
    )
    # (c) rank contract per query on the approx side: ranks dense from 1,
    # <= k rows, and the FULL ordering law row by row — cosine strictly
    # decreasing along ranks, with ascending neighbor_id breaking exact
    # cosine ties (a lag-window check over every adjacent pair, not just
    # the endpoints, so a middle-rank swap or tiebreak break flips it).
    from pyspark.sql import Window

    w_r = Window.partitionBy("query_id").orderBy("rank")
    prev_c = F.lag("cosine").over(w_r)
    prev_n = F.lag("neighbor_id").over(w_r)
    row_ok = (
        prev_c.isNull()
        | (prev_c > F.col("cosine"))
        | ((prev_c == F.col("cosine")) & (prev_n < F.col("neighbor_id")))
    )
    rchk = (
        approx.select("query_id", "rank", row_ok.alias("row_ok"))
        .groupBy("query_id")
        .agg(
            (
                (F.count(F.lit(1)) <= 5)
                & (F.min("rank") == 1)
                & (F.max("rank") == F.count(F.lit(1)))
                & (F.countDistinct("rank") == F.count(F.lit(1)))
                & F.min("row_ok")
            ).alias("ok")
        )
        .agg(F.min("ok").alias("ranks_valid"))
    )
    return (
        hit.crossJoin(cchk)
        .crossJoin(rchk)
        .select(
            F.lit(retriever).alias("retriever"),
            "n_queries", "k", "n_exact",
            "recall_ge_floor", "cosine_verified", "ranks_valid",
        )
    )


@register(
    "ann_lsh_recall_audit",
    oracle=_ann_audit_oracle("lsh"),
    doc="Driver-checkable audit of the hyperplane-LSH ANN path "
    "(operators/similarity.py::lsh_topk): recall@5 vs exact brute-force "
    "cosine >= 0.5 (measured 0.64-0.72 on the gate corpora), reported "
    "cosines bitwise-equal to an independent recompute, per-query rank "
    "contract — one hash-checkable row whose exact-side cardinalities "
    "DuckDB computes independently.",
)
def q_ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .audit_constants import ANN_LSH_RECALL_FLOOR

    return _ann_audit(spark, sf_dir, "lsh", lsh_topk, floor=ANN_LSH_RECALL_FLOOR)


@register(
    "ann_ivf_recall_audit",
    oracle=_ann_audit_oracle("ivf"),
    doc="Driver-checkable audit of the IVF ANN path "
    "(operators/similarity.py::ivf_topk): recall@5 vs exact brute-force "
    "cosine >= 0.7 (measured 0.86-0.93 on the gate corpora), reported "
    "cosines bitwise-equal to an independent recompute, per-query rank "
    "contract — one hash-checkable row whose exact-side cardinalities "
    "DuckDB computes independently.",
)
def q_ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .audit_constants import ANN_IVF_RECALL_FLOOR

    return _ann_audit(spark, sf_dir, "ivf", ivf_topk, floor=ANN_IVF_RECALL_FLOOR)


@register(
    "ann_ivf_incremental",
    # Probe-ALL gate: with nprobe = nlist the probed cells cover every
    # partition, so the result is centroid-INDEPENDENT and must equal
    # exact brute-force top-k — which means this oracle verifies the whole
    # index lifecycle end to end: if the incremental fold lost, duplicated,
    # or corrupted even one vector across the (_increment_id, cell)
    # partitions, or the store round-trip changed a value, the exact
    # equality breaks. Reduced-probe behavior (recall, PartitionFilters
    # pruning) is gated in tests, where centroid-dependent output is fine.
    oracle=f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
scored AS (
  SELECT query_id, vec_id,
    {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) AS cosine
  FROM base, q WHERE vec_id <> query_id
)
SELECT query_id, vec_id AS neighbor_id, cosine, cast(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="Persisted incremental IVF index lifecycle (operators/similarity.py: "
    "build_ivf_index / refresh_ivf_incremental / ivf_index_topk) — the ANN "
    "counterpart of refresh_hourly_incremental: centroids train ONCE on "
    "the base corpus and freeze; each vector increment is one narrow "
    "Arrow-batched assignment pass landed by (_increment_id, cell) with "
    "dynamic partition overwrite (replayed increments rewrite exactly "
    "their own files — idempotent under at-least-once delivery). This "
    "gate entry probes ALL 16 cells, making the output centroid-free and "
    "equal to exact top-k — i.e. the oracle checks the index stores the "
    "corpus LOSSLESSLY through build + incremental fold + partitioned "
    "round-trip. Reduced-probe queries (6 of 16 cells, PartitionFilters "
    "pruning to probed cell directories, recall floors, replay "
    "idempotence, split-vs-single equivalence) are gated in "
    "tests/test_training_ops.py + test_round4_ops.py. Here: base = "
    "vec_id % 3 != 2, one increment carries the rest, first 20 vectors "
    "query top-5.",
)
def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        refresh_ivf_incremental,
    )

    emb = _emb(spark, sf_dir)
    index_path = scratch_dir(spark, "ivf-index-") + "/idx"
    build_ivf_index(spark, emb.where(F.col("vec_id") % 3 != 2), index_path)
    refresh_ivf_incremental(
        spark, index_path, emb.where(F.col("vec_id") % 3 == 2), "inc1"
    )
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_index_topk(spark, index_path, queries, k=5, nprobe=16).orderBy(
        "query_id", "rank"
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------
@register(
    "multimodal_meta",
    oracle="""
SELECT doc_id, cast(octet_length(encode(text)) AS INTEGER) AS byte_len, n_chars, source
FROM documents
""",
    doc="Metadata-only scan over the media table (binary payload untouched).",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_meta(_docs(spark, sf_dir))


@register(
    "multimodal_decode_stub",
    # The deterministic fake codec is pure byte arithmetic (media content =
    # UTF-8 text bytes), so the oracle reimplements it in SQL: quarter-
    # strided byte sums -> float features, first-byte/length-derived
    # dimensions. When a real codec plugs into real_decode this twin is
    # replaced by golden-file fixtures — the plumbing gate stays.
    # NOTE: length()/substr()/ord() here are CHARACTER-based — equal to the
    # codec's byte arithmetic only on pure-ASCII corpora. That invariant is
    # pinned executably (tests/test_round6_ops.py::
    # test_multimodal_oracle_ascii_invariant) for every gate scale.
    oracle="""
WITH b AS (
  SELECT doc_id, (i - 1) % 4 AS q, ord(substr(text, i, 1)) AS byte
  FROM documents, unnest(generate_series(1, length(text))) AS t(i)
),
qsum AS (
  SELECT doc_id,
    sum(CASE WHEN q = 0 THEN byte ELSE 0 END)::BIGINT AS s0,
    sum(CASE WHEN q = 1 THEN byte ELSE 0 END)::BIGINT AS s1,
    sum(CASE WHEN q = 2 THEN byte ELSE 0 END)::BIGINT AS s2,
    sum(CASE WHEN q = 3 THEN byte ELSE 0 END)::BIGINT AS s3
  FROM b GROUP BY doc_id
)
SELECT d.doc_id,
  length(d.text)::BIGINT AS byte_len,
  'fake/' || (ord(substr(d.text, 1, 1)) % 4) AS format,
  ((ord(substr(d.text, 1, 1)) % 64) + 16)::INT AS width,
  (CASE WHEN length(d.text) > 0 THEN (length(d.text) % 64) + 16 ELSE 16 END)::INT AS height,
  ((coalesce(s0, 0) % 1000) / 1000.0)::FLOAT AS f0,
  ((coalesce(s1, 0) % 1000) / 1000.0)::FLOAT AS f1,
  ((coalesce(s2, 0) % 1000) / 1000.0)::FLOAT AS f2,
  ((coalesce(s3, 0) % 1000) / 1000.0)::FLOAT AS f3
FROM documents d LEFT JOIN qsum USING (doc_id)
""",
    doc="Arrow-batched mapInPandas decode/feature-extract over binary media "
    "(deterministic fake codec — see operators/multimodal.py). The fake "
    "decode is byte arithmetic, so the WHOLE pipeline — batch shape, "
    "schema, float32 feature vector — is value-exact checked against a "
    "SQL reimplementation. The library API (decode_media) returns an "
    "array<float> feature column; the CATALOG entry flattens it to scalar "
    "f0..f3 FLOAT columns following the repo's flatten-for-comparison "
    "convention (see customer_view's array_join) so the driver's pandas "
    "sort_values canonicalizer can hash it.",
)
def q_multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_media(media_table(_docs(spark, sf_dir)))
    return decoded.select(
        "doc_id",
        "byte_len",
        "format",
        "width",
        "height",
        *[F.col("features").getItem(i).alias(f"f{i}") for i in range(4)],
    )


@register(
    "multimodal_frame_sample",
    # The deterministic frame sampler (evenly-spaced byte offsets, 16-byte
    # window sums) is SQL-expressible — the oracle checks the 1->4 fan-out
    # row set, offsets, and float32 features exactly.
    oracle="""
WITH f AS (SELECT doc_id, length(text) AS n, text FROM documents),
frames AS (
  SELECT doc_id, fr AS frame_no,
    CASE WHEN n > 0 THEN (n * fr) // 4 ELSE 0 END AS off,
    substr(text, (CASE WHEN n > 0 THEN (n * fr) // 4 ELSE 0 END) + 1, 16) AS win
  FROM f, unnest(generate_series(0, 3)) AS t(fr)
)
SELECT doc_id, frame_no::INT AS frame_no, off::BIGINT AS offset_bytes,
  (CASE WHEN length(win) > 0
        THEN (list_reduce(list_prepend(0, list_transform(generate_series(1, length(win)), i -> ord(substr(win, i, 1)))), (a, b) -> a + b) % 1000) / 1000.0
        ELSE 0.0 END)::FLOAT AS frame_feature
FROM frames
""",
    doc="Frame sampling over binary media: 1 row -> n_frames rows via "
    "mapInPandas (engine-controlled fan-out, the video-at-scale shape). "
    "The deterministic sampler is byte arithmetic, so the fan-out is "
    "value-exact checked against a SQL twin.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sample_frames(media_table(_docs(spark, sf_dir)), n_frames=4)


@register(
    "label_centroids",
    oracle="""
SELECT e.label, u.s.pos - 1 AS pos,
  count(*) AS n,
  list_reduce(list(cast(u.s.val AS DOUBLE) ORDER BY e.vec_id), (a, b) -> a + b)
    / count(*) AS centroid
FROM embeddings e,
  unnest(list_transform(e.embedding, (x, i) -> {'pos': i, 'val': x})) AS u(s)
GROUP BY e.label, u.s.pos
""",
    doc="Per-label embedding centroids (the reduce step of k-means / class "
    "prototypes): posexplode the vector to (label, dim) pairs and average "
    "per cell. Cross-row float addition is order-sensitive, so the sum is a "
    "left fold in vec_id order (Spark `aggregate` over a sorted collect == "
    "DuckDB `list_reduce` over an ordered list, IEEE-identical) — a "
    "decimal cast would hit double->decimal rounding-tie divergence "
    "(HALF_UP vs HALF_EVEN) instead. Scale: groups are labels x dims with "
    "~rows/labels elements each; at 100 TB swap the in-group fold for a "
    "plain float sum (order-nondeterminism is acceptable there) or a "
    "two-level tree reduce — same call site.",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return (
        emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(
                F.collect_list(F.struct(F.col("vec_id"), F.col("val").cast("double").alias("v")))
            ).alias("vals"),
        )
        .select(
            "label",
            "pos",
            "n",
            (
                F.aggregate(
                    "vals", F.lit(0.0), lambda acc, x: acc + x["v"]
                )
                / F.col("n")
            ).alias("centroid"),
        )
    )


@register(
    "approx_distinct_profile",
    # Sketch VALUES are engine-internal, but their accuracy CONTRACTS are
    # checkable (same pattern as approx_percentile_audit): the exact
    # family is value-exact cross-engine and each sketch collapses to an
    # in-band boolean the oracle pins TRUE — HLL++ within 5% relative
    # (2.5 sigma at rsd=0.02), the percentile sketch inside the exact
    # [p±0.005] value band (50x its 1/accuracy rank-error bound).
    oracle="""
SELECT event_type,
  count(DISTINCT user_id) AS exact_users,
  true AS users_in_band,
  quantile_cont(value, 0.5) AS exact_p50,
  quantile_cont(value, 0.99) AS exact_p99,
  true AS p50_in_band,
  true AS p99_in_band
FROM events GROUP BY event_type
""",
    doc="Sketch-based approximate aggregates — the 100 TB substitutes for "
    "exact distincts/percentiles: approx_count_distinct (HyperLogLog++) "
    "and approx_percentile (t-digest-style) per event type, profiled ON "
    "THE SAME SCAN as their exact counterparts. The exact family is "
    "value-checked cross-engine; each sketch is audited as a boolean "
    "accuracy-contract assertion the oracle pins TRUE (numeric error "
    "magnitudes stay in tests/test_training_ops.py). At 100 TB the exact "
    "columns drop and the sketches stand alone — this entry is the "
    "calibration run that justifies the swap.",
)
def q_approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.adapter import load_table

    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.expr(
            "percentile(value, array(0.495, 0.5, 0.505, 0.985, 0.99, 0.995))"
        ).alias("p"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("ap99"),
    )
    return g.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("au") - F.col("exact_users"))
            <= F.greatest(0.05 * F.col("exact_users"), F.lit(2.0))
        ).alias("users_in_band"),
        F.col("p")[1].alias("exact_p50"),
        F.col("p")[4].alias("exact_p99"),
        F.col("ap50").between(F.col("p")[0], F.col("p")[2]).alias("p50_in_band"),
        F.col("ap99").between(F.col("p")[3], F.col("p")[5]).alias("p99_in_band"),
    )


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL SELECT doc_b, doc_a FROM jpairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS node FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT src AS doc_id, min(node) AS component_id FROM reach GROUP BY src)
SELECT doc_id, component_id,
  count(*) OVER (PARTITION BY component_id) AS component_size
FROM comp
""",
    doc="Near-dup clustering: connected components over the exact-Jaccard "
    "pair graph via iterative min-label propagation "
    "(operators/dedup.py::connected_components), labeling every document "
    "with the smallest doc_id in its duplicate cluster — the step that "
    "turns pairwise dedup output into keep/drop decisions. The oracle is an "
    "independent DuckDB recursive-CTE transitive closure, so the iterative "
    "distributed algorithm is differential-checked against a declarative "
    "fixpoint.",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import connected_components

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.015)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    comp = connected_components(docs.select("doc_id"), edges)
    return comp.withColumn(
        "component_size", F.count(F.lit(1)).over(Window.partitionBy("component_id"))
    )


@register(
    "repetition_profile",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tok FROM documents),
sh_all AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tok) >= 3
         THEN list_transform(generate_series(1, len(tok) - 2), i -> array_to_string(tok[i:i+2], ' '))
         ELSE []::VARCHAR[] END) AS shingle
  FROM tok
),
per_shingle AS (
  SELECT doc_id, shingle, count(*) AS cnt FROM sh_all GROUP BY 1, 2
)
SELECT doc_id,
  cast(sum(cnt) AS BIGINT) AS total_shingles,
  count(*) AS distinct_shingles,
  max(cnt) AS top_shingle_count,
  1.0 - cast(count(*) AS DOUBLE) / cast(sum(cnt) AS DOUBLE) AS repetition_ratio,
  cast(max(cnt) AS DOUBLE) / cast(sum(cnt) AS DOUBLE) AS top_shingle_share
FROM per_shingle GROUP BY doc_id
""",
    doc="Repetition detection (the boilerplate/spam signal used to filter "
    "LLM training text — high 3-gram repetition means templated or looping "
    "content): per document, total vs distinct 3-gram occurrences, the "
    "hottest shingle's count, and the derived repetition/top-share ratios "
    "from exact integer counts. Unlike the dedup shingle index this keeps "
    "DUPLICATE shingles (no array_distinct) — the duplicates ARE the "
    "signal. Scale: groupBy(doc_id, shingle) then groupBy(doc_id) — the "
    "second agg rides the first's hash partitioning prefix-free; per-doc "
    "shingle counts are bounded by doc length, so no skew beyond document "
    "size itself.",
)
def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = 3
    elem = "concat(" + ", ' ', ".join(f"_w[i+{j}]" for j in range(n)) + ")"
    sh_all = (
        docs.select("doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("_w"))
        .select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    f"CASE WHEN size(_w) >= {n} "
                    f"THEN transform(sequence(0, size(_w) - {n}), i -> {elem}) "
                    "ELSE array() END"
                )
            ).alias("shingle"),
        )
        .where(F.col("shingle").isNotNull())
    )
    per_shingle = sh_all.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt")
    distinct = F.count(F.lit(1))
    top = F.max("cnt")
    return per_shingle.groupBy("doc_id").agg(
        total.alias("total_shingles"),
        distinct.alias("distinct_shingles"),
        top.alias("top_shingle_count"),
        (F.lit(1.0) - distinct.cast("double") / total.cast("double")).alias(
            "repetition_ratio"
        ),
        (top.cast("double") / total.cast("double")).alias("top_shingle_share"),
    )


@register(
    "ngram_decontamination",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tok FROM documents),
sh0 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tok) >= 5
         THEN list_transform(generate_series(1, len(tok) - 4), i -> array_to_string(tok[i:i+4], ' '))
         ELSE []::VARCHAR[] END) AS shingle
  FROM tok
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
train AS (SELECT * FROM sh WHERE {_duck_bucket_tq('doc_id')} % 10 <= 7),
eval_ AS (SELECT * FROM sh WHERE {_duck_bucket_tq('doc_id')} % 10 = 9),
hits AS (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS shared_ngrams
  FROM train t JOIN eval_ e USING (shingle)
  GROUP BY 1, 2
),
flagged AS (SELECT * FROM hits WHERE shared_ngrams >= 3)
SELECT train_doc AS doc_id,
  cast(count(*) AS BIGINT) AS n_eval_docs_hit,
  cast(max(shared_ngrams) AS BIGINT) AS max_shared_ngrams,
  cast(sum(shared_ngrams) AS BIGINT) AS total_shared_ngrams
FROM flagged GROUP BY 1
""",
    doc="Eval-set n-gram decontamination (the GPT-3-style 13-gram scrub, "
    "5-grams here to fit the synthetic doc length): train docs (hash "
    "buckets 0-7, matching the train_val_test_split gate) sharing >= 3 "
    "distinct 5-grams with any held-out eval doc (bucket 9) are flagged "
    "with hit counts. Scale: the shingle inverted index joins train "
    "against eval on the shingle key — id-only shuffle rows; in production "
    "the eval/benchmark side is tiny and broadcasts, making this a "
    "map-side flag pass over the corpus scan.",
)
def q_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import ngram_shingle_index
    from .sampling_queries import hash_bucket

    docs = _docs(spark, sf_dir)
    sh = ngram_shingle_index(docs, n=5)
    b = hash_bucket(F.col("doc_id")) % 10
    train = sh.where(b <= 7).withColumnRenamed("doc_id", "train_doc")
    evals = sh.where(b == 9).withColumnRenamed("doc_id", "eval_doc")
    hits = (
        train.join(evals, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= 3)
    )
    return hits.groupBy(F.col("train_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_docs_hit"),
        F.max("shared_ngrams").cast("long").alias("max_shared_ngrams"),
        F.sum("shared_ngrams").cast("long").alias("total_shared_ngrams"),
    )


@register(
    "cross_source_contamination",
    oracle="""
WITH fp AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS fingerprint FROM documents
)
SELECT least(a.source, b.source) AS src_lo,
  greatest(a.source, b.source) AS src_hi,
  count(*) AS n_pairs,
  count(DISTINCT a.fingerprint) AS n_distinct_contents
FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id AND a.source <> b.source
GROUP BY 1, 2
""",
    doc="Cross-source contamination audit (the train/eval-benchmark overlap "
    "check): exact-content pairs whose two copies live in DIFFERENT "
    "sources, aggregated per unordered source pair with the distinct "
    "contaminating contents counted. Self-join on the md5 fingerprint — "
    "one shuffle hash-partitioned on the digest, cluster sizes bounded by "
    "duplicate multiplicity, not corpus size. At 100 TB this is the "
    "standard decontamination first pass; n-gram-overlap variants reuse "
    "the shingle index the same way.",
)
def q_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    fp = docs.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.source") != F.col("b.source")),
        )
        .groupBy(
            F.least("a.source", "b.source").alias("src_lo"),
            F.greatest("a.source", "b.source").alias("src_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct(F.col("a.fingerprint")).alias("n_distinct_contents"),
        )
    )


@register(
    "embedding_quantization_audit",
    oracle="""
WITH vec AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), scaled AS (
  SELECT vec_id, label, v,
    list_reduce(list_transform(v, x -> abs(x)), (a, b) -> greatest(a, b)) AS maxabs
  FROM vec
), per_vec AS (
  SELECT vec_id, label,
    CASE WHEN maxabs = 0.0 THEN 0.0 ELSE sqrt(
      list_reduce(list_transform(v, x ->
        (x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0)
        * (x - floor(x * 127.0 / maxabs + 0.5) * maxabs / 127.0)), (a, b) -> a + b)
      / 64.0) END AS rms
  FROM scaled
)
SELECT label,
  count(*) AS n_vecs,
  list_reduce(list(rms ORDER BY vec_id), (a, b) -> a + b) / count(*) AS avg_rms_qerr,
  max(rms) AS max_rms_qerr
FROM per_vec GROUP BY label
""",
    doc="Int8 symmetric quantization audit (the embedding-compression step "
    "before ANN index build — 4x smaller vectors, how much cosine fidelity "
    "is lost?): per vector, scale = maxabs/127, quantize with the "
    "floor(x+0.5) rounding that both engines define identically, "
    "reconstruct, and take the RMS error; per label, the mean and max RMS. "
    "Every float op is a left fold in a pinned order (element order inside "
    "vectors, vec_id order across rows — the label_centroids trick), so "
    "doubles match DuckDB bit-exactly. Scale: one shuffle on label; the "
    "per-vector math is scan-stage codegen. At 100 TB the ordered "
    "cross-row fold relaxes to a plain float sum at the same call site.",
)
def q_embedding_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    rms_expr = (
        "CASE WHEN maxabs = 0.0D THEN 0.0D ELSE sqrt(aggregate(v, cast(0.0 AS DOUBLE), (a, x) -> "
        "a + (x - floor(x * 127.0D / maxabs + 0.5D) * maxabs / 127.0D) "
        "* (x - floor(x * 127.0D / maxabs + 0.5D) * maxabs / 127.0D)) / 64.0D) END"
    )
    per_vec = (
        emb.select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"),
        )
        .withColumn(
            "maxabs",
            F.aggregate("v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        )
        .select("vec_id", "label", F.expr(rms_expr).alias("rms"))
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct(F.col("vec_id"), F.col("rms").alias("r")))
            ).alias("vals"),
            F.max("rms").alias("max_rms_qerr"),
        )
        .select(
            "label",
            "n_vecs",
            (
                F.aggregate("vals", F.lit(0.0), lambda acc, x: acc + x["r"])
                / F.col("n_vecs")
            ).alias("avg_rms_qerr"),
            "max_rms_qerr",
        )
    )


@register(
    "doc_chunk_audit",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS t FROM documents
),
st AS (
  SELECT doc_id, source, t,
    unnest(generate_series(0, greatest(len(t) - 1, 0), 8)) AS start
  FROM toks
),
chunks AS (
  SELECT source, list_slice(t, start + 1, start + 16) AS chunk FROM st
)
SELECT source,
  count(*) AS n_chunks,
  cast(sum(len(chunk)) AS BIGINT) AS total_tokens,
  count(DISTINCT md5(array_to_string(chunk, ' '))) AS distinct_chunks,
  cast(sum(CASE WHEN len(chunk) < 16 THEN 1 ELSE 0 END) AS BIGINT) AS partial_chunks
FROM chunks GROUP BY source
""",
    doc="Pretraining chunking audit: every document split into overlapping "
    "16-token chunks at stride 8 (operators/text.py::chunk_documents), "
    "profiled per source — chunk counts, token totals, distinct chunk "
    "fingerprints (chunk-level dedup signal: distinct < total at sf0.001 "
    "already), and partial-tail counts. The chunker is a pure narrow "
    "explode (sequence + posexplode + slice, zero Python), so the only "
    "shuffle is this final tiny per-source aggregate; chunk identity "
    "travels as md5, never as text.",
)
def q_doc_chunk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_documents(_docs(spark, sf_dir), chunk_size=16, stride=8)
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.count_distinct(F.col("chunk_fp")).alias("distinct_chunks"),
        F.sum(F.when(F.col("n_tokens") < 16, 1).otherwise(0).cast("long")).alias(
            "partial_chunks"
        ),
    )


@register(
    "hard_negative_mining",
    oracle=f"""
WITH base AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv FROM base WHERE vec_id < 50),
scored AS (
  SELECT query_id, query_label, vec_id, label,
    {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) AS cosine
  FROM base, q WHERE label <> query_label
)
SELECT query_id, query_label, vec_id AS negative_id, label AS negative_label, cosine,
  cast(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 3
""",
    doc="Hard-negative mining for contrastive training: top-3 most-similar "
    "OTHER-label vectors per query (operators/similarity.py::"
    "hard_negatives). Same broadcast-query + narrow-scan + windowed top-k "
    "shape as embedding_cosine_topk; the label-mismatch predicate prunes "
    "before any arithmetic. Left-fold dot products match DuckDB "
    "list_reduce bit-exactly.",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hard_negatives(_emb(spark, sf_dir), num_queries=50, k=3)


@register(
    "tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term <> '' GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
    floor(tf.tf * ln(cast(n.n_docs AS DOUBLE) / dfreq.df) * 1e6 + 0.5) / 1e6 AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, tfidf,
    cast(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
    doc="TF-IDF keyword extraction: top-3 terms per document by "
    "tf * ln(N/df). The workhorse of corpus topic profiling / keyword "
    "indexing in a training-data pipeline. Spark plan: one tokenize+agg "
    "to per-(doc, term) counts; document frequency via a count window "
    "over the SAME per-term rows (no second scan, no join back to the "
    "fact); N broadcast as a 1-row cross join; rank with a per-doc "
    "row_number, ties broken by term for determinism. Java and C libm ln() "
    "differ in the last ulp, so the score is half-up rounded to 1e-6 in "
    "both engines before ranking and comparison. Scale: "
    "shuffles are (doc,term)-agg -> term-window -> doc-window, each on "
    "the shrunken term-count frame; vocabulary skew (stopwords hitting "
    "one term partition) is bounded because the term window carries only "
    "counts, not positions.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    wt = Window.partitionBy("term")
    wd = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.floor(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6 + 0.5
            )
            / 1e6,
        )
        .withColumn("rnk", F.row_number().over(wd).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


@register(
    "bm25_search",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
lens AS (
  SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY 1
),
corpus AS (
  SELECT count(*) AS n_docs, cast(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term IN ('spark', 'join', 'stream') GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term,
    ln((corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      * (tf.tf * 2.2)
      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / corpus.avgdl)) AS s
  FROM tf
  JOIN dfreq USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN corpus
)
SELECT doc_id,
  floor(list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, b) -> a + b)
        * 1e6 + 0.5) / 1e6 AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
""",
    doc="BM25 full-text ranking (k1=1.2, b=0.75) of documents against the "
    "fixed query {spark, join, stream}: Robertson idf, per-doc length "
    "normalization against corpus average. Per-term scores fold in term "
    "order (Spark aggregate() over a sorted collect_list == DuckDB "
    "list_reduce over an ORDER BY list — IEEE-identical addends, "
    "identical order), with a final 1e-6 half-up round to wash the "
    "Java-vs-C ln() last-ulp delta. Spark plan: ONE tokenize feeds both "
    "doc lengths and query-term tfs; df and the corpus scalars come back "
    "as broadcasts (term vocab of the query is tiny); top-20 is "
    "TakeOrderedAndProject. Scale: the query-term filter prunes the "
    "token stream before the per-doc agg, so the heavy path carries only "
    "matching terms; everything else is doc-count-sized.",
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term")).where(
        F.col("term") != ""
    )
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        toks.where(F.col("term").isin("spark", "join", "stream"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    s = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(dfreq, "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "term", s.alias("s"))
    )
    folded = scored.groupBy("doc_id").agg(
        F.expr(
            "floor(aggregate(array_sort(collect_list(struct(term, s))), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x.s) * 1e6 + 0.5) / 1e6"
        ).alias("bm25")
    )
    return folded.orderBy(F.col("bm25").desc(), "doc_id").limit(20)


@register(
    "collocation_pmi",
    oracle="""
WITH toks AS (
  SELECT list_filter(string_split(lower(trim(text)), ' '), x -> x <> '') AS t
  FROM documents
),
uni AS (SELECT unnest(t) AS w FROM toks),
ucnt AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
utot AS (SELECT count(*) AS nu FROM uni),
big AS (
  SELECT t[i.i] AS w1, t[i.i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS i(i)
  WHERE len(t) >= 2
),
bcnt AS (SELECT w1, w2, count(*) AS pair_count FROM big GROUP BY 1, 2),
btot AS (SELECT count(*) AS nb FROM big)
SELECT w1, w2, pair_count,
  ((cast(pair_count AS DOUBLE) / nb) * (cast(nu AS DOUBLE) / c1.cw))
     * (cast(nu AS DOUBLE) / c2.cw) AS lift
FROM bcnt, btot, utot
JOIN ucnt c1 ON c1.w = w1
JOIN ucnt c2 ON c2.w = w2
WHERE pair_count >= 5
ORDER BY lift DESC, w1, w2 LIMIT 20
""",
    doc="Bigram collocation mining by pointwise mutual information — the "
    "corpus-statistics primitive behind phrase detection and tokenizer "
    "merge rules. Emits the LIFT ratio p(xy)/(p(x)p(y)) (PMI = ln(lift); "
    "ln is monotone, so top-k by lift IS top-k by PMI — and JVM Math.log "
    "vs libm disagree by 1 ulp on some inputs, so the log stays "
    "presentation-layer) from exact integer unigram/bigram counts, min "
    "support 5, top-20. Both engines evaluate the IDENTICAL double "
    "division tree over identical longs, so values and ordering are "
    "bit-equal. Spark plan: two tokenize passes over "
    "the corpus (unigram explode, zip_with bigram explode) feed partial-"
    "agg shuffles on token/pair; the SMALL count tables persist and the "
    "corpus totals derive from them (nu = sum cw, nb = sum pair_count), "
    "so nothing corpus-sized is cached or rescanned; the unigram count "
    "table broadcasts back onto pair counts twice (w1, w2 roles); top-20 "
    "is TakeOrderedAndProject. Scale: pair cardinality ~vocab^2 is the "
    "only big intermediate — map-side combine collapses the Zipf head "
    "before the shuffle; the min-support filter prunes before the "
    "broadcast joins.",
)
def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), " "), lambda x: x != ""
        ).alias("t")
    )
    uni = toks.select(F.explode("t").alias("w"))
    # persist the SMALL aggregates (vocab- and pair-cardinality), then derive
    # the corpus totals from them (nu = sum cw, nb = sum pair_count) — the
    # corpus itself is tokenized exactly twice (unigram pass, bigram pass)
    # and never cached.
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("cw")).persist()
    utot = ucnt.agg(F.sum("cw").alias("nu"))
    big = toks.where(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("pr")
    ).select("pr.w1", "pr.w2")
    bcnt_all = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count")).persist()
    bcnt = bcnt_all.where(F.col("pair_count") >= 5)
    btot = bcnt_all.agg(F.sum("pair_count").alias("nb"))
    c1 = ucnt.select(F.col("w").alias("_w1"), F.col("cw").alias("cw1"))
    c2 = ucnt.select(F.col("w").alias("_w2"), F.col("cw").alias("cw2"))
    return (
        bcnt.join(F.broadcast(btot))
        .join(F.broadcast(utot))
        .join(c1, F.col("w1") == F.col("_w1"))
        .join(c2, F.col("w2") == F.col("_w2"))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.expr(
                "((cast(pair_count AS DOUBLE) / nb) * (cast(nu AS DOUBLE) / cw1)) "
                "* (cast(nu AS DOUBLE) / cw2)"
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


@register(
    "embedding_gram_matrix",
    oracle="""
WITH vec AS (
  SELECT embedding::DOUBLE[] AS v,
    list_reduce(list_transform(embedding::DOUBLE[], x -> abs(x)),
                (a, b) -> greatest(a, b)) AS maxabs
  FROM embeddings
),
q AS (
  SELECT list_transform(v, x -> CASE WHEN maxabs = 0.0 THEN 0
    ELSE cast(floor(x * 127.0 / maxabs + 0.5) AS BIGINT) END) AS qv
  FROM vec
)
SELECT i.i AS i, j.j AS j, cast(sum(qv[i.i] * qv[j.j]) AS BIGINT) AS gram
FROM q,
  unnest(generate_series(1, 64)) AS i(i),
  unnest(generate_series(1, 64)) AS j(j)
WHERE j.j >= i.i
GROUP BY 1, 2
""",
    doc="Gram matrix (X^T X) of the int8-quantized corpus — the one-pass "
    "sufficient statistic for covariance/PCA/whitening over an embedding "
    "column. Quantization (scale = maxabs/127, floor(x+0.5) rounding — "
    "same arithmetic as embedding_quantization_audit) makes every product "
    "an exact integer, so the cross-row sum is order-independent and the "
    "DuckDB twin matches exactly with no float-fold tricks. Spark plan: "
    "quantize JVM-side (transform/aggregate codegen), then mapInPandas "
    "computes a PARTIAL 64x64 integer Gram per Arrow batch with one numpy "
    "matmul (A^T @ A) and emits only the 2080 upper-triangle cells; the "
    "groupBy(i, j) final merge shuffles 2080 rows per batch, never the "
    "vectors. This is textbook map-side combine for matrix aggregation: "
    "at 100 TB the shuffle stays KB-sized per partition regardless of "
    "corpus size, and the same job computes exact covariance via "
    "mean-subtraction from the emitted row sums.",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qv = (
        emb.select(F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("v"))
        .withColumn(
            "maxabs",
            F.aggregate("v", F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))),
        )
        .select(
            F.expr(
                "transform(v, x -> CASE WHEN maxabs = 0.0D THEN 0L "
                "ELSE cast(floor(x * 127.0D / maxabs + 0.5D) AS BIGINT) END)"
            ).alias("q")
        )
    )

    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.array(pdf["q"].tolist(), dtype=np.int64)
            g = a.T @ a
            yield pd.DataFrame(
                {"i": iu[0] + 1, "j": iu[1] + 1, "partial": g[iu]}
            )

    partials = qv.mapInPandas(gram_partials, schema="i int, j int, partial bigint")
    return partials.groupBy("i", "j").agg(F.sum("partial").alias("gram"))


@register(
    "line_dedup_audit",
    oracle="""
WITH ws AS (
  SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents
),
lines AS (
  SELECT doc_id,
    unnest(list_transform(
      generate_series(0, cast(floor((len(w) - 1) / 3.0) AS BIGINT)),
      i -> array_to_string(w[(i*3+1):(i*3+3)], ' ')
    )) AS line
  FROM ws
),
dfreq AS (SELECT line, count(DISTINCT doc_id) AS nd FROM lines GROUP BY line)
SELECT l.doc_id,
  cast(count(*) AS BIGINT) AS n_lines,
  cast(count(*) FILTER (WHERE d.nd >= 2) AS BIGINT) AS n_dup_lines,
  cast(count(*) FILTER (WHERE d.nd >= 2) AS DOUBLE)
    / cast(count(*) AS DOUBLE) AS dup_fraction
FROM lines l JOIN dfreq d USING (line)
GROUP BY l.doc_id
ORDER BY l.doc_id
""",
    doc="C4-style duplicated-span audit: each document splits into "
    "consecutive 3-word 'lines' (the fixed-width surrogate for sentence "
    "splitting on this corpus); a line is a cross-doc duplicate when it "
    "occurs verbatim in >= 2 distinct documents; per doc, the count and "
    "fraction of its lines that are corpus-duplicated — the signal the "
    "C4/RefinedWeb 'remove any line occurring elsewhere verbatim' scrub "
    "thresholds on. UDF-free: chunking is transform(sequence)/slice over "
    "the split array, all JVM-side. Scale: inverted-index shape — explode "
    "to (line, doc) once, ONE shuffle on line computing the cross-doc "
    "flag as min(doc_id) != max(doc_id) (exactly equivalent to "
    "count_distinct >= 2 but plain min/max partials — no distinct "
    "expansion, fully map-side-combinable); the line-keyed join reuses "
    "that partitioning, then one doc_id re-agg; never an all-pairs form.",
)
def q_line_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), " ").alias("w")
    )
    lines = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(floor((size(w) - 1) / 3.0) AS INT)), "
                "i -> array_join(slice(w, i*3+1, 3), ' '))"
            )
        ).alias("line"),
    )
    # min != max over doc_id <=> the line occurs in >= 2 distinct docs —
    # same truth value as count_distinct(doc_id) >= 2 without the
    # distinct-aggregate expansion (plain min/max partials combine map-side)
    dfreq = lines.groupBy("line").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("is_dup")
    )
    dup = F.count(F.when(F.col("is_dup"), 1))
    return (
        lines.join(dfreq, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dup.alias("n_dup_lines"),
            (dup.cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "dup_fraction"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "unigram_surprisal_filter",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
uni AS (SELECT term, count(*) AS cnt FROM toks2 GROUP BY 1),
tot AS (SELECT cast(sum(cnt) AS DOUBLE) AS t FROM uni),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks2 GROUP BY 1, 2),
contrib AS (
  SELECT tf.doc_id, tf.term, tf.tf, cast(tf.tf AS DOUBLE) * ln(uni.cnt) AS s
  FROM tf JOIN uni USING (term)
),
per_doc AS (
  SELECT doc_id,
    cast(sum(tf) AS BIGINT) AS n_tokens,
    list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, b) -> a + b) AS lsum
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, n_tokens,
  floor((ln(t.t) - lsum / n_tokens) * 1e6 + 0.5) / 1e6 AS surprisal
FROM per_doc, tot t
ORDER BY surprisal DESC, doc_id
LIMIT 20
""",
    doc="Perplexity-style quality filtering (the CCNet/Gopher recipe, with "
    "the LM reduced to the corpus's own unigram model so it is exactly "
    "computable in-engine): per-doc mean token surprisal "
    "mean(-ln p(tok)) = ln(T) - sum(tf*ln cnt)/n, top-20 most surprising "
    "documents = the out-of-distribution / garbled candidates a quality "
    "gate reviews first. Determinism: per-term contributions fold in term "
    "order (Spark aggregate() over array_sort(collect_list) == DuckDB "
    "list_reduce over ORDER BY list) with a final 1e-6 half-up round "
    "washing the Java-vs-C ln() last-ulp delta — the bm25_search recipe. "
    "Spark plan: ONE tokenize feeds both the unigram counts and the "
    "per-doc tfs; both shuffle on the SAME term key (exchange reuse), the "
    "corpus total rides a broadcast scalar; top-20 is "
    "TakeOrderedAndProject. Scale: everything is token-frame shaped "
    "(linear); the unigram 'model' is the join side and would be "
    "hot-term-skewed — the same max_df-style cap as the shingle index "
    "applies if a real vocab distribution needs it.",
)
def q_unigram_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").cast("double").alias("t"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    contrib = tf.join(uni, "term").select(
        "doc_id",
        "term",
        "tf",
        (F.col("tf").cast("double") * F.log(F.col("cnt"))).alias("s"),
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(term, s))), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x.s)"
        ).alias("lsum"),
    )
    out = per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.expr("floor((ln(t) - lsum / n_tokens) * 1e6 + 0.5) / 1e6").alias(
            "surprisal"
        ),
    )
    return out.orderBy(F.col("surprisal").desc(), "doc_id").limit(20)


@register(
    "dedup_incremental_minhash",
    # At the operating threshold 0.5 (the standard near-dup cutoff) the
    # 16-band/2-row LSH finds EVERY exact-Jaccard pair — banding collision
    # probability 1-(1-j^2)^16 is ~1 for j >= 0.5, and the signature is
    # deterministic, so the equality is a fixed fact of the corpus, not a
    # coin flip. That fact is EMPIRICAL, not structural (a j≈0.5 knee pair
    # could in principle slip all 16 bands), so it is pinned by an
    # executable guard — tests/test_round6_ops.py::
    # test_lsh_oracle_full_recall_guard re-verifies full recall at both
    # gate corpora and names the missed pair if a regenerated dataset ever
    # breaks it. The oracle is therefore the exact inverted-index Jaccard
    # restricted to pairs touching the increment — a strictly STRONGER
    # gate than rows-only: it asserts no false positives, full recall at
    # gate scale, and bit-identical jaccard values. The batch==incremental
    # law + replay idempotence stay gated in tests/test_round4_ops.py.
    oracle=f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM jpairs
WHERE jaccard >= 0.5 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
""",
    doc="Ingest-time near-dup detection against a PERSISTED MinHash-LSH "
    "index (operators/dedup.py::build_dedup_index / dedup_increment): the "
    "corpus's band codes and hashed shingle arrays live in a parquet "
    "store keyed by increment id (dynamic partition overwrite = replay-"
    "idempotent, the refresh_ivf_incremental contract); a new 20% "
    "document increment computes only ITS OWN signatures and equi-joins "
    "its band codes against the store — work is increment-sized plus "
    "collision volume, never a corpus rescan. This is the operation that "
    "makes near-dedup sustainable at 100 TB: the batch minhash_lsh_pairs "
    "rescan per ingest is quadratic in corpus growth; this is linear. "
    "Gated by the equivalence LAW: result == batch LSH pairs over the "
    "full corpus restricted to pairs touching the increment (exact "
    "jaccard values included), plus idempotent double-apply.",
)
def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.dedup import build_dedup_index, dedup_increment

    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") % 5 != 0)
    inc = docs.where(F.col("doc_id") % 5 == 0)
    with tempfile.TemporaryDirectory(prefix="dedup_idx_") as d:
        build_dedup_index(spark, d, base, increment_id="base")
        out = dedup_increment(spark, d, inc, increment_id="inc1", threshold=0.5)
        # distributed materialization before the index directory disappears
        staged = stage_result(spark, out, "dedup_incremental_minhash")
    return staged


@register(
    "embedding_dim_profile",
    oracle="""
WITH cells AS (
  SELECT vec_id,
    generate_subscripts(embedding, 1) - 1 AS dim,
    cast(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT dim,
  count(*) AS n,
  cast(min(val) AS DOUBLE) AS min_val,
  cast(max(val) AS DOUBLE) AS max_val,
  floor(list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)), (a, b) -> a + b)
        / count(*) * 1e9 + 0.5) / 1e9 AS mean_val,
  count(CASE WHEN val = 0.0 THEN 1 END) AS n_zero
FROM cells GROUP BY dim
""",
    doc="Per-dimension feature statistics over the embedding column (the "
    "dataset-card numbers: each of the 64 dims' min/max/mean/zero-count) "
    "— the pre-training sanity check that catches a dead dimension, a "
    "scale blow-up, or an all-zeros projection before a model trains on "
    "it. posexplode is the JVM-side array unpivot; per-dim means fold in "
    "vec_id order (Spark aggregate() over array_sort(collect_list) == "
    "DuckDB list_reduce over ORDER BY list) with a 1e-9 round — exact "
    "float64 addends in both engines since float32->float64 widening is "
    "value-preserving. Scale: ONE scan, one shuffle on the 64-value dim "
    "key; at 100 TB the ordered fold swaps for a fixed-shape tree sum "
    "(chunk by vec_id range, fold chunks in order) with the same "
    "map-side-combinable profile — or the mean gate relaxes to a "
    "tolerance compare; min/max/counts are order-free either way.",
)
def q_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cells = emb.select(
        "vec_id", F.posexplode(F.col("embedding"))
    ).select(
        "vec_id", F.col("pos").alias("dim"), F.col("col").cast("double").alias("val")
    )
    return cells.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        F.expr(
            "floor(aggregate(array_sort(collect_list(struct(vec_id, val))), "
            "CAST(0 AS DOUBLE), (a, x) -> a + x.val) / count(*) * 1e9 + 0.5) / 1e9"
        ).alias("mean_val"),
        F.count(F.when(F.col("val") == 0.0, 1)).alias("n_zero"),
    )


_PHASH_CTES = """
pos AS (SELECT doc_id, unnest(generate_series(0, 63)) AS pos FROM documents),
bsum AS (
  SELECT doc_id, (i - 1) % 64 AS pos, sum(ord(substr(text, i, 1)))::BIGINT AS s
  FROM documents, unnest(generate_series(1, length(text))) AS t(i)
  GROUP BY 1, 2
),
buckets AS (
  SELECT pos.doc_id, pos.pos, coalesce(bsum.s, 0)::BIGINT AS s
  FROM pos LEFT JOIN bsum USING (doc_id, pos)
),
med AS (SELECT doc_id, median(s) AS m FROM buckets GROUP BY 1),
ph AS (
  SELECT b.doc_id,
    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
              THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS phash
  FROM (
    SELECT b.doc_id,
      sum(CASE WHEN s > m THEN (1::HUGEINT << pos) ELSE 0::HUGEINT END) AS h
    FROM buckets b JOIN med USING (doc_id) GROUP BY 1
  ) b
)"""


@register(
    "multimodal_phash_dedup",
    # Full independent SQL twin: the phash is a pure function of the payload
    # bytes (media content = UTF-8 text bytes; single-byte at this corpus),
    # so the oracle recomputes 64-bucket column sums (zero-padded to the
    # 64-byte row width), median threshold, uint64 bit pack (wrapped to
    # int64), the SAME 4x16-bit band blocking, and bit_count(xor) <= 6.
    oracle=f"""
WITH {_PHASH_CTES},
bands AS (
  SELECT doc_id, phash, b AS band, (phash >> (b * 16)) & 65535 AS code
  FROM ph, unnest(generate_series(0, 3)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.phash AS ha, b.phash AS hb
  FROM bands a JOIN bands b ON a.band = b.band AND a.code = b.code AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 6
""",
    doc="Perceptual-hash near-dup detection over the media binary column "
    "(operators/multimodal.py::phash_media / phash_near_dup_pairs): "
    "64-bit signature per payload via one Arrow-batched numpy pass (the "
    "codec-free stand-in for DCT pHash, at the documented real_decode "
    "plug point), then 4x16-bit band blocking + exact bit_count(xor) "
    "verification — the image-dedup twin of SimHash, candidate volume "
    "bounded by duplicate multiplicity. Scale: signatures are int64s; "
    "banding/verification never touch payload bytes again. The oracle "
    "reimplements the whole signature+banding pipeline in SQL (the fake "
    "decode is byte-arithmetic, so it IS SQL-expressible), making this a "
    "value-exact cross-engine gate, not rows-only.",
)
def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import media_table, phash_near_dup_pairs

    return (
        phash_near_dup_pairs(media_table(_docs(spark, sf_dir)), max_hamming=6)
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ann_recall_eval",
    # The evaluated retriever is DETERMINISTIC and SQL-expressible
    # (dimension-truncated cosine over the first 16 of 64 dims — the
    # cheap-projection ANN baseline), so BOTH engines compute the full
    # eval — retrieve, join, recall — end to end. The engine's own
    # LSH/IVF retrievers are scored by the same harness in the pytest
    # recall-floor tests (their signatures are engine-internal sketches
    # with no SQL twin).
    oracle=f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
tbase AS (SELECT vec_id, (embedding[1:16])::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 20),
tq AS (SELECT vec_id AS query_id, v AS qv FROM tbase WHERE vec_id < 20),
exact AS (
  SELECT query_id, vec_id AS nid FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        {_DDOT.format(a="qv", b="v")} / ({_DNORM.format(a="qv")} * {_DNORM.format(a="v")}) DESC,
        vec_id) AS rank
    FROM base, q WHERE vec_id <> query_id
  ) WHERE rank <= 5
),
approx AS (
  SELECT query_id, vec_id AS nid FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY
        {_TDOT.format(a="qv", b="v")} / ({_TNORM.format(a="qv")} * {_TNORM.format(a="v")}) DESC,
        vec_id) AS rank
    FROM tbase, tq WHERE vec_id <> query_id
  ) WHERE rank <= 5
)
SELECT e.query_id,
  count(*) AS k,
  cast(count(a.nid) AS BIGINT) AS n_hit,
  count(a.nid) / cast(count(*) AS DOUBLE) AS recall_at_5
FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id AND a.nid = e.nid
GROUP BY e.query_id
""",
    doc="Retrieval-quality evaluation as a first-class operator: per-query "
    "recall@5 of an approximate retriever against exact brute-force "
    "cosine — the number a production vector pipeline monitors after "
    "every index rebuild. The scored retriever here is the deterministic "
    "dimension-truncated projection (first 16 of 64 dims), which makes "
    "the WHOLE eval — both retrievals, the hit join, the recall ratio — "
    "value-exact checkable cross-engine; the engine's LSH and IVF "
    "retrievers run through the same harness in the pytest recall-floor "
    "tests. One join of two top-k frames on (query_id, neighbor_id); "
    "both sides are query-count-sized, so the eval costs nothing next to "
    "the searches it scores. At 100 TB the exact side runs on a sampled "
    "query panel — recall estimation only needs a few hundred queries "
    "regardless of corpus size.",
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    truncated = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    exact = cosine_topk(emb, num_queries=20, k=5).select(
        "query_id", F.col("neighbor_id").alias("nid")
    )
    approx = cosine_topk(truncated, num_queries=20, k=5, dim=16).select(
        "query_id", F.col("neighbor_id").alias("nid"), F.lit(1).alias("hit")
    )
    joined = exact.join(approx, ["query_id", "nid"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_hit"),
            (F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1))).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION ALL SELECT doc_b, doc_a FROM jpairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS node FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT src AS doc_id, min(node) AS component_id FROM reach GROUP BY src),
scored AS (
  SELECT c.component_id, d.doc_id, len(string_split(lower(trim(d.text)), ' ')) AS n_words
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT component_id, doc_id,
    row_number() OVER (PARTITION BY component_id ORDER BY n_words DESC, doc_id) AS rk
  FROM scored
),
agg AS (
  SELECT component_id,
    count(*) AS cluster_size,
    cast(max(n_words) AS BIGINT) AS keep_n_words,
    cast(sum(n_words) - max(n_words) AS BIGINT) AS dropped_words
  FROM scored GROUP BY component_id
)
SELECT a.component_id, a.cluster_size, r.doc_id AS keep_doc_id,
  a.keep_n_words, a.dropped_words
FROM agg a JOIN ranked r ON a.component_id = r.component_id AND r.rk = 1
WHERE a.cluster_size > 1
""",
    doc="Canonical-copy selection for near-dup clusters — the curation "
    "decision pairwise dedup exists to feed: within each connected "
    "component of the exact-Jaccard pair graph, KEEP the longest copy "
    "(word count, doc_id tiebreak; exact dups tie on length so the rule "
    "degrades to min-id there) and account the words dropped. Spark side "
    "reuses the iterative min-label components (operators/dedup.py::"
    "component_scores) + one struct-ordered max_by per cluster "
    "(keep_longest_ord — overflow-free for any doc_id domain, unlike the "
    "arithmetic composite it replaced); the oracle is the independent "
    "recursive-CTE closure + row_number window. Scale: components are "
    "bounded by duplicate-cluster size; the scoring join and per-cluster "
    "agg shuffle on component_id — cluster-count sized, not corpus sized.",
)
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import component_scores, keep_longest_ord
    from ..operators.dedup import ngram_jaccard_pairs as _njp

    docs = _docs(spark, sf_dir)
    scored = component_scores(docs, _njp(docs, threshold=0.015))
    return (
        scored.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by("doc_id", keep_longest_ord()).alias("keep_doc_id"),
            F.max("n_words").cast("long").alias("keep_n_words"),
            (F.sum("n_words") - F.max("n_words")).cast("long").alias("dropped_words"),
        )
        .where(F.col("cluster_size") > 1)
        .select(
            "component_id", "cluster_size", "keep_doc_id",
            "keep_n_words", "dropped_words",
        )
    )


@register(
    "semantic_dedup_lsh",
    # The end-to-end SCALE-TRUE dedup pipeline, oracle-gated: candidates
    # come from the banded MinHash-LSH path (never all-pairs), verify with
    # exact Jaccard, cluster with connected components, keep the longest
    # copy. At the 0.5 operating threshold the banding finds every exact
    # pair (empirical fact of the gate corpora, pinned by
    # tests/test_round6_ops.py::test_lsh_oracle_full_recall_guard), so the
    # bucketed pipeline's output equals the declarative closure over the
    # EXACT pair set — the oracle below — making the 100 TB plan itself the
    # thing the driver hash-checks, not a capped stand-in.
    oracle=f"""
WITH RECURSIVE {_NGRAM_PAIRS_CTES},
hp AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.5),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM hp
  UNION ALL SELECT doc_b, doc_a FROM hp
),
reach AS (
  SELECT doc_id AS src, doc_id AS node FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT src AS doc_id, min(node) AS component_id FROM reach GROUP BY src),
scored AS (
  SELECT c.component_id, d.doc_id, len(string_split(lower(trim(d.text)), ' ')) AS n_words
  FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT component_id, doc_id,
    row_number() OVER (PARTITION BY component_id ORDER BY n_words DESC, doc_id) AS rk
  FROM scored
),
agg AS (
  SELECT component_id,
    count(*) AS cluster_size,
    cast(max(n_words) AS BIGINT) AS keep_n_words,
    (count(*) - 1)::BIGINT AS dropped_docs
  FROM scored GROUP BY component_id
)
SELECT a.component_id, a.cluster_size, r.doc_id AS keep_doc_id,
  a.keep_n_words, a.dropped_docs
FROM agg a JOIN ranked r ON a.component_id = r.component_id AND r.rk = 1
WHERE a.cluster_size > 1
""",
    doc="The composed semantic-dedup pipeline AT SCALE SEMANTICS, one "
    "entry end-to-end: banded MinHash-LSH candidate generation "
    "(operators/dedup.py::minhash_lsh_pairs — bucket-local pair-gen, "
    "near-linear, never all-pairs) -> exact-Jaccard verification on "
    "candidates only -> connected components (iterative min-label "
    "propagation) -> canonical keep of the longest copy per cluster with "
    "drop accounting. Unlike semantic_dedup_keep (all-pairs capped at "
    "max_id=300 as the oracle-checkable stand-in), every stage here IS "
    "the 100 TB plan; the oracle is the independent DuckDB recursive-CTE "
    "transitive closure + arg_max over the EXACT >=0.5 Jaccard pair set, "
    "value-exact because banding recall at 0.5 is complete on the gate "
    "corpora (executable guard: tests/test_round6_ops.py). Planted "
    "mega-cluster recall is separately gated in the same test module.",
)
def q_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import component_scores, keep_longest_ord
    from ..operators.dedup import minhash_lsh_pairs as _mlp

    docs = _docs(spark, sf_dir)
    scored = component_scores(docs, _mlp(docs, threshold=0.5))
    return (
        scored.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by("doc_id", keep_longest_ord()).alias("keep_doc_id"),
            F.max("n_words").cast("long").alias("keep_n_words"),
            (F.count(F.lit(1)) - 1).cast("long").alias("dropped_docs"),
        )
        .where(F.col("cluster_size") > 1)
        .select(
            "component_id", "cluster_size", "keep_doc_id",
            "keep_n_words", "dropped_docs",
        )
    )


@register(
    "cross_source_dup_matrix",
    oracle="""
WITH fp AS (
  SELECT md5(substr(lower(trim(text)), 1, 120)) AS fp, source, doc_id FROM documents
),
src_fp AS (SELECT DISTINCT fp, source FROM fp),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_contents
  FROM src_fp a JOIN src_fp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY 1, 2
),
sizes AS (SELECT source, count(DISTINCT fp) AS n_contents FROM fp GROUP BY 1)
SELECT p.source_a, p.source_b, p.shared_contents,
  sa.n_contents AS contents_a, sb.n_contents AS contents_b,
  cast(p.shared_contents AS DOUBLE)
    / least(sa.n_contents, sb.n_contents) AS overlap_coeff
FROM pairs p
JOIN sizes sa ON sa.source = p.source_a
JOIN sizes sb ON sb.source = p.source_b
""",
    doc="Cross-source duplication matrix: for every source pair, how many "
    "distinct leading contents (md5 of the first 120 normalized chars — "
    "the cheap mirror-detection key that catches near-identical copies "
    "with divergent tails, where the exact-content key returns nothing) "
    "they share, normalized by the "
    "smaller source's content count (overlap coefficient) — the curation "
    "view that reveals mirror/scrape relationships between corpus "
    "sources, deciding which source to keep as canonical BEFORE doc-level "
    "dedup runs. Plan: fingerprint once, distinct (fp, source), self-join "
    "on fp (bucket size = per-content source multiplicity, bounded), "
    "tiny source-pair agg; source sizes ride a broadcast join back. "
    "Scale: everything after the fingerprint agg is "
    "|sources|^2 / content-multiplicity sized.",
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    fp = docs.select(
        F.md5(F.substring(F.lower(F.trim(F.col("text"))), 1, 120)).alias("fp"),
        "source",
    )
    src_fp = fp.distinct()
    sizes = fp.groupBy("source").agg(F.count_distinct("fp").alias("n_contents"))
    a = src_fp.alias("a")
    b = src_fp.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_contents"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_contents").alias("contents_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_contents").alias("contents_b"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b", "shared_contents", "contents_a", "contents_b",
            (
                F.col("shared_contents").cast("double")
                / F.least("contents_a", "contents_b")
            ).alias("overlap_coeff"),
        )
    )


@register(
    "ngram_novelty_curve",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tok FROM documents),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(tok) >= 3
         THEN list_transform(generate_series(1, len(tok) - 2), i -> array_to_string(tok[i:i+2], ' '))
         ELSE []::VARCHAR[] END)) AS shingle
  FROM tok
),
first_seen AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
per_doc AS (
  SELECT s.doc_id,
    count(*) AS n_shingles,
    count(CASE WHEN f.first_doc = s.doc_id THEN 1 END) AS n_novel
  FROM sh s JOIN first_seen f USING (shingle) GROUP BY 1
),
banded AS (
  SELECT cast(floor(doc_id / 100) AS BIGINT) AS doc_band,
    cast(sum(n_shingles) AS BIGINT) AS shingles,
    cast(sum(n_novel) AS BIGINT) AS novel
  FROM per_doc GROUP BY 1
)
SELECT doc_band, shingles, novel,
  cast(novel AS DOUBLE) / shingles AS novelty_rate
FROM banded
""",
    doc="Corpus novelty curve: in ingestion (doc_id) order, what fraction "
    "of each 100-doc band's word-3-gram shingles has never been seen in "
    "any earlier document — the saturation signal that tells a data team "
    "when additional collection from a source stops adding information "
    "(novelty decaying toward the near-dup floor). Plan: ONE shingle "
    "explode feeds both the global first-seen frame (min doc_id per "
    "shingle — map-side combinable) and the per-doc counts; the join back "
    "is shingle-keyed on the same partitioning. Scale: token-frame "
    "shaped, no pair generation anywhere.",
)
def q_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _shingle_index

    sh = _shingle_index(_docs(spark, sf_dir))
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy(F.floor(F.col("doc_id") / 100).cast("long").alias("doc_band"))
        .agg(
            F.sum("n_shingles").cast("long").alias("shingles"),
            F.sum("n_novel").cast("long").alias("novel"),
        )
        .select(
            "doc_band", "shingles", "novel",
            (F.col("novel").cast("double") / F.col("shingles")).alias("novelty_rate"),
        )
    )


@register(
    "zipf_vocab_fit",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM toks WHERE term <> '' GROUP BY 1),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rk FROM counts
),
pts AS (
  SELECT ln(cast(rk AS DOUBLE)) AS x, ln(cast(n AS DOUBLE)) AS y, rk
  FROM ranked WHERE rk <= 200
),
mom AS (
  SELECT count(*) AS k,
    list_reduce(list_prepend(0.0, list(x ORDER BY rk)), (a, b) -> a + b) AS sx,
    list_reduce(list_prepend(0.0, list(y ORDER BY rk)), (a, b) -> a + b) AS sy,
    list_reduce(list_prepend(0.0, list(x * x ORDER BY rk)), (a, b) -> a + b) AS sxx,
    list_reduce(list_prepend(0.0, list(x * y ORDER BY rk)), (a, b) -> a + b) AS sxy
  FROM pts
)
SELECT cast(k AS BIGINT) AS n_ranks,
  floor((k * sxy - sx * sy) / (k * sxx - sx * sx) * 1e9 + 0.5) / 1e9 AS zipf_slope,
  floor((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k * 1e9 + 0.5) / 1e9
    AS log_intercept
FROM mom
""",
    doc="Zipf's-law fit of the corpus vocabulary: OLS slope of "
    "ln(frequency) on ln(rank) over the top-200 ranks (natural language "
    "sits near -1; a flat slope flags synthetic/templated text, a cliff "
    "flags boilerplate) — a one-number corpus-health diagnostic next to "
    "heavy_hitters/vocab_topk. Rank ties break by term so the rank->count "
    "mapping is deterministic; moments fold in rank order (the "
    "cross-engine-exact OLS recipe of consumption_payment_regression) "
    "with a 1e-9 round. Plan: token-count agg, top-200 rank window over "
    "the vocab frame, single-row moment fold.",
)
def q_zipf_vocab_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    # TakeOrdered top-200 BEFORE any global window: at a real vocab size the
    # single-partition rank window would be the bottleneck; ranking 200
    # pre-selected rows is constant work at any scale.
    top = counts.orderBy(F.col("n").desc(), "term").limit(200)
    ranked = top.select(
        "n", F.row_number().over(Window.orderBy(F.col("n").desc(), "term")).alias("rk")
    )
    pts = ranked.select(
        "rk",
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    fold = (
        "aggregate(array_sort(collect_list(struct(rk, {expr} AS v))), "
        "CAST(0 AS DOUBLE), (a, e) -> a + e.v)"
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(fold.format(expr="x")).alias("sx"),
        F.expr(fold.format(expr="y")).alias("sy"),
        F.expr(fold.format(expr="x * x")).alias("sxx"),
        F.expr(fold.format(expr="x * y")).alias("sxy"),
    )
    r = lambda e: F.floor(e * 1e9 + 0.5) / 1e9  # noqa: E731
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        F.col("k").cast("long").alias("n_ranks"),
        r(slope).alias("zipf_slope"),
        r((F.col("sy") - slope * F.col("sx")) / F.col("k")).alias("log_intercept"),
    )


@register(
    "lang_id_confusion",
    oracle=f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS w FROM documents),
s AS (
  SELECT doc_id, lang AS labeled_lang,
    cast(len(list_filter(w, x -> list_contains({_MARK["en"]}, x))) AS INTEGER) AS score_en,
    cast(len(list_filter(w, x -> list_contains({_MARK["es"]}, x))) AS INTEGER) AS score_es,
    cast(len(list_filter(w, x -> list_contains({_MARK["de"]}, x))) AS INTEGER) AS score_de,
    cast(len(list_filter(w, x -> list_contains({_MARK["fr"]}, x))) AS INTEGER) AS score_fr
  FROM t
),
pred AS (
  SELECT labeled_lang,
    CASE WHEN score_en > 0 AND score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         WHEN score_es > 0 AND score_es >= score_de AND score_es >= score_fr THEN 'es'
         WHEN score_de > 0 AND score_de >= score_fr THEN 'de'
         WHEN score_fr > 0 THEN 'fr'
         ELSE 'unknown' END AS predicted_lang
  FROM s
),
cm AS (
  SELECT labeled_lang, predicted_lang, count(*) AS n FROM pred GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n,
  cast(n AS DOUBLE) / sum(n) OVER (PARTITION BY labeled_lang) AS row_rate,
  labeled_lang = predicted_lang AS is_correct
FROM cm
""",
    doc="Classifier-eval confusion matrix for the marker-word language ID "
    "against the dataset's labeled lang: per (labeled, predicted) cell "
    "count and row-normalized rate (per-label recall on the diagonal) — "
    "the eval harness shape every in-engine model heuristic needs, "
    "generalizing lang_id's per-doc output into the quality report a "
    "data card publishes. Plan: the per-doc scoring is narrow scan-speed "
    "expressions; the matrix is a |langs|² agg with the row-normalizer "
    "window over that tiny frame.",
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.text import lang_id as _lang_id

    pred = _lang_id(_docs(spark, sf_dir)).select("labeled_lang", "predicted_lang")
    cm = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("labeled_lang")
    return cm.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("row_rate"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias("is_correct"),
    )


@register(
    "embedding_norm_outliers",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
norms AS (
  SELECT vec_id, label,
    sqrt(list_reduce(list_transform(generate_series(1, 64), i -> v[i] * v[i]), (x, y) -> x + y)) AS l2
  FROM vecs
),
med AS (
  SELECT quantile_cont(l2, 0.5) AS m FROM norms
),
mad AS (
  SELECT quantile_cont(abs(l2 - med.m), 0.5) AS d FROM norms, med
)
SELECT n.vec_id, n.label, n.l2,
  (n.l2 - med.m) / (1.4826 * mad.d) AS robust_z
FROM norms n, med, mad
WHERE abs((n.l2 - med.m) / (1.4826 * mad.d)) > 2.5
ORDER BY n.vec_id
""",
    doc="Embedding-norm outlier screen: per-vector L2 norm (exact ordered "
    "left-fold, bit-identical to DuckDB's list_reduce) flagged by robust "
    "z-score against the corpus median/MAD (x1.4826 normal-consistency "
    "scaling, the robust_outliers_mad recipe) — degenerate (near-zero) "
    "or exploding vectors are the standard pre-index sanity failure that "
    "poisons cosine similarity. Plan: one narrow pass computes norms; "
    "median and MAD are two exact quantiles over the norms frame with "
    "the scalars broadcast back (approx_percentile is the 100 TB swap).",
)
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import norm_expr, parsed_expr

    emb = _emb(spark, sf_dir)
    norms = emb.select(
        "vec_id",
        "label",
        # unrolled per-element cast (round 16): same left-fold order and
        # values as the old transform+aggregate form, but codegen'd;
        # parsed once per JVM (round 17, similarity.parsed_expr)
        parsed_expr(norm_expr("embedding", cast=True)).alias("l2"),
    )
    med = norms.agg(F.expr("percentile(l2, 0.5)").alias("m"))
    with_m = norms.join(F.broadcast(med))
    mad = with_m.agg(F.expr("percentile(abs(l2 - m), 0.5)").alias("d"))
    rz = (F.col("l2") - F.col("m")) / (1.4826 * F.col("d"))
    return (
        with_m.join(F.broadcast(mad))
        .select("vec_id", "label", "l2", rz.alias("robust_z"))
        .where(F.abs(rz) > 2.5)
        .orderBy("vec_id")
    )


@register(
    "dup_rate_by_source",
    oracle="""
WITH fp AS (
  SELECT doc_id, source, md5(lower(trim(text))) AS fp FROM documents
),
grp AS (
  SELECT fp, min(doc_id) AS keeper, count(*) AS n FROM fp GROUP BY fp
),
flags AS (
  SELECT f.source,
    CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS in_dup_group,
    CASE WHEN g.n > 1 AND f.doc_id <> g.keeper THEN 1 ELSE 0 END AS is_redundant
  FROM fp f JOIN grp g USING (fp)
)
SELECT source, count(*) AS n_docs,
  cast(sum(in_dup_group) AS BIGINT) AS docs_in_dup_groups,
  cast(sum(is_redundant) AS BIGINT) AS redundant_docs,
  cast(sum(is_redundant) AS DOUBLE) / count(*) AS redundancy_rate
FROM flags GROUP BY source
""",
    doc="Per-source exact-duplication rollup: how many of each source's "
    "documents sit in a multi-copy content group, and how many are "
    "REDUNDANT (would be dropped by keep-min-id dedup) — the 'how much "
    "of this source is copies' number that prices a source's real "
    "contribution before licensing/ingesting more of it. Plan: "
    "fingerprint once, content-group agg, join back on the same fp key, "
    "source-sized rollup.",
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fingerprint

    docs = _docs(spark, sf_dir)
    fp = docs.select("doc_id", "source", fingerprint(F.col("text")).alias("fp"))
    grp = fp.groupBy("fp").agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n")
    )
    flags = fp.join(grp, "fp").select(
        "source",
        F.when(F.col("n") > 1, 1).otherwise(0).alias("in_dup_group"),
        F.when((F.col("n") > 1) & (F.col("doc_id") != F.col("keeper")), 1)
        .otherwise(0)
        .alias("is_redundant"),
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("in_dup_group").cast("long").alias("docs_in_dup_groups"),
        F.sum("is_redundant").cast("long").alias("redundant_docs"),
        (F.sum("is_redundant").cast("double") / F.count(F.lit(1))).alias(
            "redundancy_rate"
        ),
    )
