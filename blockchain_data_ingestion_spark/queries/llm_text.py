"""LLM training-data pipeline — text analysis & deduplication.

BASELINE.json-mandated extension surface (SURVEY.md §2.10, §0): the
operators a large-scale training-data pipeline runs over a corpus —
quality stats, language ID, token counting, fingerprinting, and the
dedup family (exact, n-gram Jaccard, MinHash+LSH, SimHash) — over the
``documents`` fixture (doc_id, text, lang, source, n_chars).

Cross-engine determinism strategy (these ops are ratio/hash heavy):
- ratios surface as **ppm BIGINTs** (``floor(1e6 * a / b)``) — integer
  end-to-end, no float-rounding divergence between Spark and DuckDB;
- MinHash hashes each shingle once (the first 7 hex chars of md5 as
  a BIGINT) and takes 16 integer universal-hash minima; LSH band keys
  are md5 hex strings of the signature slices;
- SimHash needs integer hashes: both engines parse the first 15 hex
  chars of md5 into a BIGINT (60 bits, no sign issues).

Scale design (100 TB corpus):
- every op is one scan + narrow per-row transforms (HOFs, no Python) or
  an explode→groupBy whose shuffle key is the dedup key itself;
- candidate generation for pairwise ops NEVER materializes the full
  O(n²) pair space: n-gram Jaccard joins an inverted shingle index,
  MinHash joins LSH band buckets, SimHash joins 8-bit band buckets.
  Verification (exact Jaccard / Hamming) runs only on candidates;
- the n-gram inverted index is document-frequency capped
  (`_NGRAM_DF_CAP`): hot/boilerplate shingles are dropped before the
  self-join, bounding every shuffle bucket to ≤ cap²/2 pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..catalog import query_sql as Q
from ..catalog import table as T
from ..catalog import table_column_avg_bytes, table_row_count
from . import register

# ---------------------------------------------------------------------------
# shared expression builders (same logical text on both engines)
# ---------------------------------------------------------------------------

#: tokens of the space-separated fixture corpus.
_SPARK_TOKS = "split(text, ' ')"
_DUCK_TOKS = "string_split(text, ' ')"

# distinct width-k shingles. Both builders are TOTAL functions: a doc
# shorter than k tokens yields an empty list. The CASE guard matters on
# the Spark side — without it ``sequence(1, 0)`` emits a DESCENDING
# [1, 0] grid and ``slice(toks, 0, k)`` raises at runtime, where
# DuckDB's ``range(1, 1)`` is cleanly empty (cross-engine divergence).
# Spark sequence(1,k) == DuckDB range(1,k+1).


def _spark_kgrams(k: int, toks: str = "toks") -> str:
    return (f"CASE WHEN size({toks}) >= {k} THEN"
            f" array_distinct(transform(sequence(1, size({toks}) - {k - 1}),"
            f" i -> concat_ws(' ', slice({toks}, i, {k}))))"
            f" ELSE array() END")


def _duck_kgrams(k: int, toks: str = "toks") -> str:
    return (f"CASE WHEN len({toks}) >= {k} THEN"
            f" list_distinct([array_to_string({toks}[i:i+{k - 1}], ' ')"
            f" for i in range(1, len({toks}) - {k - 1} + 1)])"
            f" ELSE [] END")


_SPARK_SHINGLES = _spark_kgrams(3)
_DUCK_SHINGLES = _duck_kgrams(3)

#: ppm ratio — integer-deterministic on both engines.
def _ppm(num: str, den: str) -> str:
    return f"CAST(floor(1000000.0 * ({num}) / ({den})) AS BIGINT)"


# ---------------------------------------------------------------------------
# op_text_stats — quality scoring
# ---------------------------------------------------------------------------

@register(
    "op_text_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_letter_chars,
           {_ppm("len(replace(text, ' ', ''))", "len(toks)")} AS avg_word_len_ppm,
           {_ppm("len(list_filter(toks, t -> t IN ('a','the')))", "len(toks)")}
             AS stopword_ppm,
           {_ppm("len(list_distinct(toks))", "len(toks)")} AS distinct_ppm
    FROM tok
    """,
    tags=("llm", "text"),
)
def op_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: word count, avg word length, stopword
    ratio, distinct-token ratio (the classic pre-training quality filters
    à la C4/Gopher rules). Ratios are ppm BIGINTs for exact parity.

    Scale: single scan, narrow per-row HOFs, no shuffle, no Python.
    """
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    return d.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_words"),
        F.expr("length(replace(text, ' ', ''))").cast("long")
         .alias("n_letter_chars"),
        F.expr(_ppm("length(replace(text, ' ', ''))", "size(toks)"))
         .alias("avg_word_len_ppm"),
        F.expr(_ppm("size(filter(toks, t -> t IN ('a','the')))", "size(toks)"))
         .alias("stopword_ppm"),
        F.expr(_ppm("size(array_distinct(toks))", "size(toks)"))
         .alias("distinct_ppm"),
    )


# ---------------------------------------------------------------------------
# op_lang_id — n-gram/wordlist heuristic language ID
# ---------------------------------------------------------------------------

#: tiny per-language discriminator word lists (heuristic; the fixture corpus
#: shares one vocabulary, so this demonstrates the operator shape — hit
#: scoring + deterministic argmax — not real-world accuracy).
_LANG_LISTS = {
    "en": ("the", "a", "order", "table"),
    "de": ("hash", "join", "row"),
    "fr": ("query", "scan", "data"),
}


def _lang_score(engine_filter: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return engine_filter.format(inlist=inlist)


@register(
    "op_lang_id",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, lang,
          {_lang_score("len(list_filter(toks, t -> t IN ({inlist})))", _LANG_LISTS["en"])} AS s_en,
          {_lang_score("len(list_filter(toks, t -> t IN ({inlist})))", _LANG_LISTS["de"])} AS s_de,
          {_lang_score("len(list_filter(toks, t -> t IN ({inlist})))", _LANG_LISTS["fr"])} AS s_fr
          FROM tok)
    SELECT doc_id, lang AS labeled_lang,
           CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
           CAST(s_fr AS BIGINT) AS s_fr,
           CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
                WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
                ELSE 'en' END AS predicted
    FROM s
    """,
    tags=("llm", "text"),
)
def op_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-hit language ID: score each doc against per-language
    discriminator lists, deterministic argmax (ties → 'en' precedence).
    Scale: scan + narrow transforms; the real-world version swaps the
    lists for char-trigram frequency tables — same plan shape."""
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    sc = {k: F.expr(_lang_score("size(filter(toks, t -> t IN ({inlist})))",
                                words)).cast("long")
          for k, words in _LANG_LISTS.items()}
    s = d.select("doc_id", F.col("lang").alias("labeled_lang"),
                 sc["en"].alias("s_en"), sc["de"].alias("s_de"),
                 sc["fr"].alias("s_fr"))
    return s.withColumn(
        "predicted",
        F.when((F.col("s_de") > F.col("s_en"))
               & (F.col("s_de") > F.col("s_fr")), F.lit("de"))
         .when((F.col("s_fr") > F.col("s_en"))
               & (F.col("s_fr") > F.col("s_de")), F.lit("fr"))
         .otherwise(F.lit("en")),
    )


# ---------------------------------------------------------------------------
# op_token_count — whitespace + BPE-ish tokenization estimates
# ---------------------------------------------------------------------------

@register(
    "op_token_count",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT) AS regex_tokens,
           CAST(list_sum(list_apply(toks, t -> CAST(ceil(len(t) / 4.0) AS BIGINT)))
                AS BIGINT) AS est_bpe_tokens
    FROM tok
    """,
    tags=("llm", "text"),
)
def op_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (runs of letters / digits / single other), and a subword estimate
    (ceil(len/4) per word ≈ GPT-style tokens-per-word).
    Scale: scan-only, JVM regex + HOFs, no Python."""
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    return d.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("ws_tokens"),
        F.expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
         .cast("long").alias("regex_tokens"),
        F.expr("aggregate(toks, 0L, (acc, t) ->"
               " acc + cast(ceil(length(t) / 4.0) as bigint))")
         .alias("est_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# op_doc_fingerprint — shingle-hash fingerprinting
# ---------------------------------------------------------------------------

@register(
    "op_doc_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, toks, {_DUCK_SHINGLES} AS shingles FROM tok)
    SELECT doc_id,
           -- coalesce: DuckDB's array_to_string([]) is NULL where
           -- Spark's concat_ws([]) is '' — a sub-k-token doc (empty
           -- shingle list) must fingerprint as md5(''), not NULL
           -- (r12 shape-fuzz: planted '' and 1-token docs)
           md5(coalesce(array_to_string(
               list_sort(list_apply(shingles, s -> md5(s)))[1:3], '|'), ''))
             AS fingerprint,
           md5(coalesce(array_to_string(toks[1:20], ' '), ''))
             AS prefix_fp
    FROM sh
    """,
    tags=("llm", "text"),
)
def op_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: winnowing-style content fingerprint
    (md5 over the 3 smallest shingle hashes — robust to local edits)
    plus a 20-token prefix hash (fast family grouping; the fixture has
    ~23 shared prefixes). Scale: scan-only; fingerprints then feed the
    `dedup_exact` groupBy pattern."""
    d = (T(spark, sf_dir, "documents")
         .withColumn("toks", F.expr(_SPARK_TOKS))
         .withColumn("shingles", F.expr(_SPARK_SHINGLES)))
    return d.select(
        "doc_id",
        F.expr("md5(concat_ws('|',"
               " slice(array_sort(transform(shingles, s -> md5(s))), 1, 3)))")
         .alias("fingerprint"),
        F.expr("md5(concat_ws(' ', slice(toks, 1, 20)))").alias("prefix_fp"),
    )


# ---------------------------------------------------------------------------
# dedup_exact — content-hash dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash normalized content, keep the smallest doc_id
    per hash group (deterministic canonical pick).

    Scale: THE canonical 100 TB dedup — one shuffle on the 128-bit
    content hash with map-side partial aggregation; hash keys are
    uniform so no skew. (Fixture corpus has no exact dups, so every
    group has n_copies=1 — semantics still fully exercised.)"""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(
            F.md5(F.trim(F.regexp_replace("text", " +", " ")))
             .alias("content_hash"),
            "doc_id")
         .groupBy("content_hash")
         .agg(F.min("doc_id").cast("long").alias("canonical_doc_id"),
              F.count("*").cast("long").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — inverted-index candidate join + exact Jaccard
# ---------------------------------------------------------------------------

_JACCARD_PPM = _ppm("c", "na + nb - c")

#: Hot-shingle document-frequency cap: shingles appearing in more than
#: this many documents are dropped from the inverted index BEFORE the
#: candidate self-join. An ABSOLUTE cap (not the "0.1% of docs" rule of
#: thumb) is the scale-correct choice: candidate pairs per shingle are
#: bounded by cap²/2 (≈8k at 128) no matter the corpus size, where a
#: relative cap still admits a 10^7-doc boilerplate shingle at 10^10
#: docs = 10^13 pairs in ONE shuffle bucket. Recall is unaffected in
#: practice: a ≥0.5-Jaccard pair shares many shingles and only
#: boilerplate ("all rights reserved") exceeds DF 128 — and those carry
#: no pair-discrimination signal. Fixture max DF is 25 (sf0.1), so the
#: cap provably drops nothing at test scale.
_NGRAM_DF_CAP = 128

#: The capped n-gram pair query as a reusable CTE chain (ends in
#: ``ngram_pairs(doc_a, doc_b, jaccard_ppm)``) — shared verbatim by the
#: `dedup_ngram_jaccard` oracle and by llm_pipeline's cluster/apply/e2e
#: oracles so all four keys stay value-identical across engines.
_DUCK_NGRAM_CTES = f"""
    tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM tok),
    hot AS (SELECT s FROM sh GROUP BY s
            HAVING count(*) > {_NGRAM_DF_CAP}),
    idx AS (SELECT doc_id, s FROM sh
            WHERE s NOT IN (SELECT s FROM hot)),
    card AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    ngram_pairs AS (
        SELECT doc_a, doc_b, {_JACCARD_PPM} AS jaccard_ppm
        FROM cand
        JOIN (SELECT doc_id, n AS na FROM card) ca ON ca.doc_id = doc_a
        JOIN (SELECT doc_id, n AS nb FROM card) cb ON cb.doc_id = doc_b
        WHERE 2 * c >= (na + nb - c))
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_NGRAM_CTES}
    SELECT doc_a, doc_b, jaccard_ppm FROM ngram_pairs
    """,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup detection: distinct 3-gram shingles →
    DF-capped inverted-index self-join (only docs sharing a *rare*
    shingle ever meet) → exact Jaccard |∩|/|∪| ≥ 0.5 over the capped
    shingle vocabulary (finds the fixture's ~25 planted near-dup
    pairs).

    Metric semantics: Jaccard is computed over the DF-capped
    vocabulary — a boilerplate shingle above the cap counts toward
    NEITHER the intersection NOR the union (the standard stopword-
    shingle treatment: boilerplate carries no pair-discrimination
    signal, and dropping it from both sides keeps the metric
    internally consistent). Intersection counts therefore come
    straight off the index self-join in ONE pass — a verify-stage
    re-join against full shingle sets would first have to materialize
    every any-shared-shingle pair × its shingles, an intermediate
    measured 10× slower at sf0.1 and quadratic in shared-boilerplate
    at scale. At fixture scale no shingle exceeds the cap, so capped
    and uncapped Jaccard coincide exactly (property-tested).

    Scale: the self-join shuffles on the shingle — never materializes
    O(n²) — and the `_NGRAM_DF_CAP` guard bounds every shuffle bucket
    to ≤ cap²/2 candidate pairs, so a boilerplate shingle present in
    0.1% of 10^10 docs can no longer create a quadratic hot bucket.
    The hot-shingle set is tiny by construction (bounded by
    distinct-shingles/cap), so it rides a broadcast anti-join over
    the index."""
    cand, card = _capped_index_pair_counts(spark, sf_dir)
    return (
        cand.join(card.select(F.col("doc_id").alias("doc_a"),
                              F.col("n").alias("na")), "doc_a")
            .join(card.select(F.col("doc_id").alias("doc_b"),
                              F.col("n").alias("nb")), "doc_b")
            .filter(F.expr("2 * c >= (na + nb - c)"))
            .select("doc_a", "doc_b",
                    F.expr(_JACCARD_PPM).alias("jaccard_ppm"))
    )


def _capped_index_pair_counts(spark: SparkSession,
                              sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The DF-capped inverted-index machinery shared VERBATIM by
    `dedup_ngram_jaccard` and `op_shingle_containment`: returns
    ``(cand, card)`` — shared-shingle counts per candidate pair, and
    capped-vocabulary cardinality per doc.

    The shingle table is tokenized ONCE and persisted (r15, guide §8.4
    "fingerprints only" / §5 cache-when-reused): unpersisted, the
    tokenize+shingle+explode subtree is re-evaluated by every consumer
    branch — hot-DF detection, per-doc cardinality, and the self-join's
    a-side (b reuses a's exchange) = 3 full corpus scans + 3× the
    shingling CPU. The fill is LAZY on purpose: the hot-set broadcast
    is the first stage AQE materializes, and its scan of ``sh`` fills
    the cache before the downstream join/card branches read it — an
    explicit eager count() measured strictly slower (interleaved
    medians 2.29 s eager / 1.94 s lazy / 2.02 s uncached at sf0.1; a
    concurrent branch racing the tail of the fill recomputes at most a
    few partitions, benignly). Registration is scoped, so
    release_all() frees it after the query. Storage is
    MEMORY_AND_DISK — an index that outgrows executor memory spills
    instead of OOMing, still one tokenize pass.

    The ``idx``/``card`` persists collapse the otherwise re-planned
    hot-aggregate + anti-join subtrees (r15: 30 Exchange nodes, 24 AQE
    stage jobs unpersisted at sf0.1; an r16 drop-the-persists probe
    re-measured NET-SLOWER at sf1 for the multi-consumer keys —
    op_shingle_containment reads the pair subtree twice, so the
    persists stay).

    r16 (guide §2.3 "narrower types" applied to the sort key): the
    index rows carry ``hs = xxhash64(s)`` and the self-join key is
    ``(hs, s)``: the exchange hashes and the SMJ sorts compare one
    BIGINT first and touch the ~24-byte shingle string only within
    equal-hash runs, so the corpus-scale sorts are integer-keyed.
    Results are exact — the full string is still an equi-key, hash
    collisions just co-locate (never merge) distinct shingles."""
    from ..caching import scoped_persist
    d = (T(spark, sf_dir, "documents")
         .withColumn("toks", F.expr(_SPARK_TOKS)))
    sh = d.select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
    sh = scoped_persist(sh)
    hot = (sh.groupBy("s").agg(F.count("*").alias("df"))
             .filter(F.col("df") > _NGRAM_DF_CAP)
             .select("s"))
    idx = scoped_persist(
        sh.join(F.broadcast(hot), "s", "left_anti")
          .withColumn("hs", F.xxhash64("s")))
    card = scoped_persist(
        idx.groupBy("doc_id").agg(F.count("*").alias("n")))
    # The index self-join is large × large BY DESIGN (both sides are the
    # whole inverted index): pin a sort-merge join so neither side is
    # ever broadcast. Left to AQE at fixture scale the 260k-row index
    # sits under the 10 MB threshold and gets collected to the driver
    # and rebroadcast — measured 2.8× slower locally than SMJ, and the
    # exact shape that OOMs the driver at any real corpus size. SMJ
    # shuffles both sides on the (DF-capped, so bounded-bucket) key and
    # spills if a partition outgrows memory — the one join strategy
    # that is safe at every scale here.
    a, b = idx.hint("merge").alias("a"), idx.hint("merge").alias("b")
    cand = (a.join(b, (F.col("a.hs") == F.col("b.hs"))
                   & (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("c")))
    return cand, card


# ---------------------------------------------------------------------------
# op_minhash_dedup — MinHash signatures + LSH banding
# ---------------------------------------------------------------------------

_N_HASH = 16          # signature length
_N_BANDS = 4          # 4 bands × 4 rows; P(candidate) = 1-(1-j^4)^4

# One base hash per shingle (28 bits of md5), then 16 universal-hash
# permutations sig_i = min((a_i·h + b_i) mod M31) — the textbook MinHash
# construction (1 cryptographic hash + cheap integer mixing, not 16
# md5s). 28-bit h × 31-bit a_i keeps every product < 2^62: no int64
# overflow on either engine. Constants are fixed literals shared by the
# Spark expression and the oracle SQL.
_M31 = 2_147_483_647  # Mersenne prime 2^31 - 1
_AB = [((2 * i + 1) * 2_654_435_761 % _M31 | 1, (i * 40_503 * 65_537) % _M31)
       for i in range(_N_HASH)]
_SPARK_H = "cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint)"
_DUCK_H = "CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)"
#: the 16 permutations of the base hash ``h``; the per-doc ``min`` of
#: each is one signature component (same text on both engines).
_SIG_EXPRS = [f"({a} * h + {b}) % {_M31}" for a, b in _AB]
_DUCK_SIGS = ", ".join(
    f"min({e}) AS sig_{i}" for i, e in enumerate(_SIG_EXPRS))
_R = _N_HASH // _N_BANDS


def _sig_matches(a: str, b: str) -> str:
    """Number of equal signature components of rows ``a`` and ``b``."""
    return " + ".join(
        f"CASE WHEN {a}.sig_{i} = {b}.sig_{i} THEN 1 ELSE 0 END"
        for i in range(_N_HASH))


#: Verification-shape gate for op_minhash_dedup: above this average
#: uncompressed documents.text bytes/row (parquet-footer metadata, no
#: scan) the shingle payload stops riding band rows and verification
#: re-joins the shingle index on doc_id instead. 16 KiB ≈ a long web
#: page; fixture docs are ~100× below it (inline, the measured-faster
#: path), book-length corpora are far above (re-join — candidate
#: shuffle payload must stay O(1)/row at 100 TB). Same self-gating
#: posture as `_COSINE_MAX_PAIR_WORK` in llm_vec.
_MINHASH_INLINE_MAX_AVG_TEXT_BYTES = 16_384

#: Byte budget for the inline-mode band-table persist (r16, VERDICT r15
#: item 3): the cached frame is doc-grain but each row carries the full
#: shingle array (~k× the text bytes, k=3 overlap), so on a
#: many-small-docs corpus the MEMORY_AND_DISK footprint is corpus-scale
#: even though the avg-bytes gate correctly picked inline. Above this
#: estimated TOTAL uncompressed documents.text size (rows × avg bytes,
#: parquet footers only — zero Spark jobs) the persist is SKIPPED: the
#: plan is byte-identical, Catalyst just re-plans the signature subtree
#: for both self-join sides (2 corpus scans) instead of writing ~3× the
#: corpus to bounded executor local disk. Local default 8 GiB (cache
#: ≈ 24 GiB worst case on the 128 GiB box); production boxes size it to
#: their local-disk budget via the env var, read at call time so a
#: malformed value fails the op that reads it, not the registry import.
_MINHASH_INLINE_CACHE_MAX_TOTAL_TEXT_BYTES = 8 * 1024**3


def _minhash_inline_cache_fits(sf_dir: str) -> bool:
    """True iff the inline band table's persist stays inside the byte
    budget (footer metadata only; unknown backing → True, matching the
    avg-bytes gate's fixture-scale default)."""
    raw = os.environ.get("SPARK_GRAFT_MINHASH_CACHE_BUDGET_BYTES")
    budget = _MINHASH_INLINE_CACHE_MAX_TOTAL_TEXT_BYTES
    if raw is not None:
        try:
            budget = int(raw)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_MINHASH_CACHE_BUDGET_BYTES={raw!r}; "
                "expected an integer byte count") from None
    rows = table_row_count(sf_dir, "documents")
    avg = table_column_avg_bytes(sf_dir, "documents", "text")
    if rows is None or avg is None:
        return True
    return rows * avg <= budget


_DUCK_BANDS = ", ".join(
    "md5(" + " || '|' || ".join(
        f"sig_{b * _R + r}" for r in range(_R)) + f") AS band_{b}"
    for b in range(_N_BANDS))


#: The MinHash+LSH pair query as a reusable CTE chain (ends in
#: ``mh_pairs(doc_a, doc_b, jaccard_ppm)``) — shared by this oracle and
#: by llm_pipeline's `op_pipeline_e2e` oracle, whose near-dup stage runs
#: on MinHash candidates (the 100 TB-preferred edge source).
_DUCK_MINHASH_CTES = f"""
    tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM tok),
    shh AS (SELECT doc_id, {_DUCK_H} AS h FROM sh),
    sig AS (SELECT doc_id, {_DUCK_SIGS} FROM shh GROUP BY doc_id),
    band AS (SELECT doc_id, {_DUCK_BANDS} FROM sig),
    bl AS (SELECT doc_id, b_idx, band FROM band
           UNPIVOT (band FOR b_idx IN (band_0, band_1, band_2, band_3))),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bl a JOIN bl b
               ON a.b_idx = b.b_idx AND a.band = b.band
              AND a.doc_id < b.doc_id),
    card AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT doc_a, doc_b, count(*) AS c
              FROM cand JOIN sh x ON x.doc_id = doc_a
                        JOIN sh y ON y.doc_id = doc_b AND y.s = x.s
              GROUP BY 1, 2),
    mh_pairs AS (
        SELECT doc_a, doc_b, {_JACCARD_PPM} AS jaccard_ppm
        FROM inter
        JOIN (SELECT doc_id, n AS na FROM card) ca ON ca.doc_id = doc_a
        JOIN (SELECT doc_id, n AS nb FROM card) cb ON cb.doc_id = doc_b
        WHERE 2 * c >= (na + nb - c))
"""


@register(
    "op_minhash_dedup",
    oracle=f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT doc_a, doc_b, jaccard_ppm FROM mh_pairs
    """,
    tags=("llm", "dedup"),
)
def op_minhash_dedup(spark: SparkSession, sf_dir: str,
                     docs: DataFrame | None = None) -> DataFrame:
    """MinHash + LSH near-dup detection: 16-way MinHash signature via
    universal hashing (one 28-bit md5-derived base hash per shingle,
    sig_i = min((a_i·h + b_i) mod M31)), 4 bands × 4 rows, candidates =
    pairs sharing any full band, then exact-Jaccard verification ≥ 0.5
    on candidates only.

    Scale: signatures/bands are per-row array HOFs — ZERO shuffle until
    the candidate join, which shuffles on (band_idx, band_hash); bucket
    sizes are the LSH collision sets, tiny by construction, so the
    O(n²) blowup of `dedup_ngram_jaccard`'s hot shingles cannot happen.
    Verification is on candidates only, never a second all-pairs pass.
    This is the 100 TB-preferred dedup path (MinHashLSH in pyspark.ml
    computes the same thing; built from primitives so the oracle can
    verify values).

    The verification stage has two exact-equivalent plans, picked by a
    footer-metadata size gate (same pattern as `_COSINE_MAX_PAIR_WORK`):

    - **inline** (small docs): ``collect_list(s)`` re-nests the shingle
      set in the signature shuffle so verification reads it off the
      candidate row (``array_intersect``) — measured ~2.8× faster at
      fixture scale because nothing is re-derived. Cost: band rows
      carry ~(n_bands × shingle bytes) per doc into the candidate
      shuffle.
    - **rejoin** (fat docs): band rows carry ONLY (doc_id, b_idx,
      band_hash); candidates are DISTINCTed as bare id pairs, then
      verified by re-joining the shingle index on doc_id (the oracle's
      own shape). The candidate shuffle payload is O(1) per row no
      matter the document size — the 100 TB-safe default for
      book-length docs (VERDICT r13 item 2).

    Gate: average uncompressed bytes/row of ``documents.text`` from
    parquet footers (`catalog.table_column_avg_bytes`, zero scan) vs
    ``_MINHASH_INLINE_MAX_AVG_TEXT_BYTES``. Both variants are
    hash-equal by construction and pinned so by
    tests/test_llm_text.py::test_minhash_rejoin_variant_hash_equal.

    Multi-band collisions produce duplicate candidates. inline dedups
    AFTER the verification filter (post-filter set is tiny — one less
    shuffle over the wide payload set); rejoin dedups BEFORE the
    verify join (bare id pairs are cheap to DISTINCT, and duplicate
    pairs would double-count the intersection join)."""
    avg = table_column_avg_bytes(sf_dir, "documents", "text")
    sh = _shingle_rows(spark, sf_dir, docs)
    # Unknown backing → inline (fixture-scale default); fat docs →
    # re-join. The threshold is avg TEXT bytes: shingle-set bytes
    # scale linearly with it (k-gram overlap ≈ k× text), so text
    # is the cheap, always-present proxy.
    if avg is None or avg <= _MINHASH_INLINE_MAX_AVG_TEXT_BYTES:
        return _verify_inline(_band_join(_minhash_bands(sh, sf_dir)))
    # Gate decisions must be observable (VERDICT r14 item 5: "log the
    # taken path") — the shape fuzz asserts this fires on its mega-doc
    # catalog.
    import warnings
    warnings.warn(
        f"op_minhash_dedup: avg documents.text bytes {avg:.0f}"
        f" > {_MINHASH_INLINE_MAX_AVG_TEXT_BYTES}; auto gate"
        " selected the doc_id-rejoin verification shape",
        RuntimeWarning, stacklevel=2)
    # rejoin: band rows carry (doc_id, b_idx, band) ONLY — no payload
    # rides the candidate shuffle. Verification mirrors the oracle's
    # inter CTE: equi-join the shingle index on both ids, count
    # matches. ``sh`` feeds four subtrees, so it is persisted (see
    # `_minhash_bands` for why outside the byte budget).
    sh = scoped_persist(sh)
    cand = (_band_join(_minhash_bands(sh, sf_dir, shingles=False))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    card = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
                 .join(y, (F.col("y.doc_id") == F.col("doc_b"))
                       & (F.col("y.s") == F.col("x.s")))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("c")))
    return (inter
            .join(card.selectExpr("doc_id", "n AS na"),
                  F.col("doc_id") == F.col("doc_a")).drop("doc_id")
            .join(card.selectExpr("doc_id", "n AS nb"),
                  F.col("doc_id") == F.col("doc_b")).drop("doc_id")
            .where("2 * c >= (na + nb - c)")
            .selectExpr("doc_a", "doc_b",
                        f"{_JACCARD_PPM} AS jaccard_ppm"))


def _shingle_rows(spark: SparkSession, sf_dir: str,
                  docs: DataFrame | None = None) -> DataFrame:
    """Shingle rows ``(doc_id, s)``, one per distinct 3-gram of a doc.

    ``docs`` (optional, columns doc_id + toks) lets a composition such
    as op_pipeline_e2e feed ONE shared tokenized corpus into every
    stage instead of each stage re-scanning documents.text (guide
    §8.4: decide on lightweight proxies, read the heavy column once).
    Standalone, the corpus is scanned + tokenized here, repartitioned
    up front: it lands as one file = one scan task, and the shingling
    + 16×|shingles| hash pipeline downstream is CPU-bound."""
    if docs is None:
        np = spark.sparkContext.defaultParallelism
        docs = Q(spark, sf_dir,
                 f"SELECT /*+ REPARTITION({np}) */ doc_id,"
                 f" {_SPARK_TOKS} AS toks FROM documents")
    return (docs.selectExpr("doc_id", f"{_SPARK_SHINGLES} AS shingles")
                .selectExpr("doc_id", "explode(shingles) AS s"))


def _minhash_bands(sh: DataFrame, sf_dir: str, shingles: bool = True,
                   sigs: bool = False) -> DataFrame:
    """The one MinHash path of the dedup family: shingle rows
    ``(doc_id, s)`` → one base hash per shingle → 16 signature minima
    → 4 LSH band keys, returned as band rows ``(doc_id, [shingles],
    [sig_0..sig_15], b_idx, band)``, one row per (doc, band).
    ``shingles`` re-nests each doc's shingle set (``collect_list``) so
    verification reads it off the candidate row; ``sigs`` keeps the
    signature components for the estimate consumers.

    - Signatures via explode + groupBy: each md5(shingle) computed
      exactly once. (An array-HOF formulation — array_min(transform())
      per seed — reads prettier but Catalyst's projection collapse
      inlines the 16 transforms into every downstream band expression,
      an exponential recompute; measured 10× slower.)
    - **Persist policy.** Every consumer self-joins the band rows, and
      Catalyst plans a full scan→shingle→md5→17-aggregate subtree for
      each side (r15 plan capture: both sides the same 9 operators) —
      the round-robin REPARTITION exchange blocks ReuseExchange. A lazy
      ``scoped_persist`` of the doc-grain table (bands plus payload,
      before the band explode) collapses that to one corpus pass
      (guide §1.2). Lazy, not eager: plan build stays zero-job (pinned
      by test_minhash_gate_is_metadata_only), and the side that runs
      first fills the cache. The caller releases it via release_all().
    - A table carrying the shingle payload (~k× the text bytes, k=3
      overlap) is persisted only inside `_minhash_inline_cache_fits`:
      over budget the identical plan runs unpersisted, and 2 corpus
      scans beat a corpus-scale spill. The payload-free table (4 md5
      strings per doc) is always persisted.
    - Rejoin mode's exploded shingle index ``sh`` is persisted by
      `op_minhash_dedup` outside this budget on purpose: it feeds FOUR
      subtrees (this signature build, the cardinalities, both sides of
      the intersection join) against the inline table's two, so
      skipping it costs four corpus passes to save one spill — on the
      fat-doc corpora rejoin is picked for, where a pass is dearest."""
    aggs = [F.expr(f"min({e})").alias(f"sig_{i}")
            for i, e in enumerate(_SIG_EXPRS)]
    payload = [f"sig_{i}" for i in range(_N_HASH)] if sigs else []
    if shingles:
        aggs.append(F.collect_list("s").alias("shingles"))
        payload.insert(0, "shingles")
    band_cols = ["md5(concat_ws('|', " + ", ".join(
        f"sig_{b * _R + r}" for r in range(_R)) + f")) AS band_{b}"
        for b in range(_N_BANDS)]
    band = (sh.selectExpr("doc_id", "s", f"{_SPARK_H} AS h")
              .groupBy("doc_id").agg(*aggs)
              .selectExpr("doc_id", *payload, *band_cols))
    if not shingles or _minhash_inline_cache_fits(sf_dir):
        band = scoped_persist(band)
    bands_inline = ", ".join(
        f"named_struct('b_idx', {b}, 'band', band_{b})"
        for b in range(_N_BANDS))
    return band.selectExpr("doc_id", *payload,
                           f"inline(array({bands_inline}))")


def _band_join(a: DataFrame, b: DataFrame | None = None) -> DataFrame:
    """LSH candidates: band rows ``a`` ⋈ ``b`` (aliased "a" and "b")
    sharing a full band. Without ``b``, the self-join of ``a`` over
    unordered pairs (``a.doc_id < b.doc_id``). A pair colliding in
    several bands appears once per band; callers dedup."""
    cond = [F.col("a.b_idx") == F.col("b.b_idx"),
            F.col("a.band") == F.col("b.band")]
    if b is None:
        b = a
        cond.append(F.col("a.doc_id") < F.col("b.doc_id"))
    return a.alias("a").join(b.alias("b"), cond)


def _verify_inline(cand: DataFrame,
                   ids: tuple[str, str] = ("doc_a", "doc_b")) -> DataFrame:
    """Exact-Jaccard verification read off `_band_join` rows that carry
    both shingle sets: the pairs with Jaccard ≥ 0.5, as ``(*ids,
    jaccard_ppm)``, deduplicated after the filter."""
    x, y = ids
    return (cand.select(F.col("a.doc_id").alias(x),
                        F.col("b.doc_id").alias(y),
                        F.col("a.shingles").alias("sha"),
                        F.col("b.shingles").alias("shb"))
                .selectExpr(x, y, "size(array_intersect(sha, shb)) AS c",
                            "size(sha) AS na", "size(shb) AS nb")
                .where("2 * c >= (na + nb - c)")
                .selectExpr(x, y, f"{_JACCARD_PPM} AS jaccard_ppm")
                .distinct())


# ---------------------------------------------------------------------------
# dedup_simhash — SimHash + banded Hamming candidates
# ---------------------------------------------------------------------------

_SIM_BITS = 32
#: token hash: low 32 bits of the first-15-hex-chars-of-md5 integer.
_SPARK_TOKHASH = ("(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"
                  " & 4294967295)")
_DUCK_TOKHASH = "(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) & 4294967295)"


def _simhash_bit_sums(tokhash: str, shift: str) -> str:
    """Per-bit ±1 vote sums, as a comma-joined select-list fragment."""
    return ", ".join(
        f"sum((({tokhash} {shift} {b}) & 1) * 2 - 1) AS v_{b}"
        for b in range(_SIM_BITS))


_SIMHASH_FROM_VOTES = " + ".join(
    f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(_SIM_BITS))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS t FROM tok),
    votes AS (SELECT doc_id, {_simhash_bit_sums(_DUCK_TOKHASH, '>>')}
              FROM sh GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({_SIMHASH_FROM_VOTES} AS BIGINT) AS simhash
            FROM votes),
    bands AS (SELECT doc_id, simhash, j,
                     (simhash >> (8 * j)) & 255 AS band
              FROM sim, (SELECT unnest([0, 1, 2, 3]) AS j)),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sim_a,
                    b.doc_id AS doc_b, b.simhash AS sim_b
             FROM bands a JOIN bands b
               ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """,
    tags=("llm", "dedup"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 32-bit SimHash per doc (per-bit ±1
    votes over distinct 3-gram shingle hashes), candidates = pairs
    agreeing on any of four 8-bit bands, exact Hamming ≤ 3 verified on
    candidates. Pigeonhole makes banding LOSSLESS here: ≤ 3 bit flips
    across 4 bands leave at least one band intact.

    Scale: votes are one explode + groupBy(doc_id) with map-side
    partial sums (32 int columns); band join shuffles on (j, band) —
    256 buckets × 4 bands spread uniformly by the hash."""
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    tok = d.select("doc_id",
                   F.explode(F.expr(_SPARK_SHINGLES)).alias("t"))
    votes = tok.groupBy("doc_id").agg(*[
        F.expr(f"sum((({_SPARK_TOKHASH} >> {b}) & 1) * 2 - 1)").alias(f"v_{b}")
        for b in range(_SIM_BITS)])
    sim = votes.select(
        "doc_id", F.expr(_SIMHASH_FROM_VOTES).cast("long").alias("simhash"))
    bands = sim.select(
        "doc_id", "simhash",
        F.explode(F.expr("sequence(0, 3)")).alias("j")
    ).withColumn("band", F.expr("(simhash >> (8 * j)) & 255"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.j") == F.col("b.j"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("a.simhash").alias("sim_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("b.simhash").alias("sim_b"))
             .distinct())
    return (cand
            .withColumn("hamming",
                        F.expr("bit_count(sim_a ^ sim_b)").cast("long"))
            .filter(F.col("hamming") <= 3)
            .select("doc_a", "doc_b", "hamming"))


# ---------------------------------------------------------------------------
# op_repetition_stats — Gopher-style within-document repetition filter
# ---------------------------------------------------------------------------

#: keep thresholds (ppm): duplicate-bigram mass <= 20% of bigrams AND the
#: single most frequent bigram <= 18% of bigrams (adapted from the Gopher
#: repetition-removal rules; the fixture corpus is word-salad with heavy
#: repetition, so both branches of the gate fire at every SF).
_REP_DUP_MAX_PPM = 200_000
_REP_TOP_MAX_PPM = 180_000

#: ALL width-2 grams with multiplicity (``_spark_kgrams`` dedups — here
#: the duplicate mass IS the signal, so no array_distinct).
_SPARK_BIGRAMS = ("CASE WHEN size(toks) >= 2 THEN"
                  " transform(sequence(1, size(toks) - 1),"
                  " i -> concat_ws(' ', slice(toks, i, 2)))"
                  " ELSE array() END")
_DUCK_BIGRAMS = ("CASE WHEN len(toks) >= 2 THEN"
                 " [array_to_string(toks[i:i+1], ' ')"
                 " for i in range(1, len(toks))]"
                 " ELSE [] END")


@register(
    "op_repetition_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    e AS (SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS gram FROM tok),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY doc_id, gram),
    s AS (SELECT doc_id,
                 CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(max(cnt) AS BIGINT) AS top_n
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_bigrams, n_distinct, top_n,
           {_ppm("n_bigrams - n_distinct", "n_bigrams")} AS dup_bigram_ppm,
           {_ppm("top_n", "n_bigrams")} AS top_bigram_ppm,
           ({_ppm("n_bigrams - n_distinct", "n_bigrams")}
              <= {_REP_DUP_MAX_PPM}
            AND {_ppm("top_n", "n_bigrams")} <= {_REP_TOP_MAX_PPM}) AS keep
    FROM s
    """,
    tags=("llm", "text"),
)
def op_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher "repetition removal"
    family): per document, the fraction of bigram occurrences that are
    duplicates of an earlier bigram and the mass of the single most
    frequent bigram, each as a ppm BIGINT, plus the composite keep gate.
    Machine-generated/boilerplate text scores high on both and is dropped
    before training.

    Scale: bigrams explode to ~L rows per doc, but both shuffle keys are
    doc-local — (doc_id, gram) for the multiplicity count, then doc_id
    for the rollup — so buckets are bounded by document length, never by
    corpus size, and both aggregates combine map-side. No Python in the
    row path. Docs shorter than 2 tokens have no bigrams and drop out
    identically on both engines.
    """
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    grams = d.select("doc_id", F.explode(F.expr(_SPARK_BIGRAMS)).alias("gram"))
    cnt = grams.groupBy("doc_id", "gram").count()
    s = cnt.groupBy("doc_id").agg(
        F.sum("count").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct"),
        F.max("count").cast("long").alias("top_n"))
    return s.select(
        "doc_id", "n_bigrams", "n_distinct", "top_n",
        F.expr(_ppm("n_bigrams - n_distinct", "n_bigrams"))
         .alias("dup_bigram_ppm"),
        F.expr(_ppm("top_n", "n_bigrams")).alias("top_bigram_ppm"),
        F.expr(f"{_ppm('n_bigrams - n_distinct', 'n_bigrams')}"
               f" <= {_REP_DUP_MAX_PPM}"
               f" AND {_ppm('top_n', 'n_bigrams')} <= {_REP_TOP_MAX_PPM}")
         .alias("keep"))


# ---------------------------------------------------------------------------
# op_pii_redact — pattern-based PII / entity masking
# ---------------------------------------------------------------------------

#: redaction patterns, applied in order. Each is valid and semantically
#: identical under both regex engines (Java util.regex on Spark, RE2 on
#: DuckDB): character classes, bounded repetition, \\b word boundaries —
#: no backreferences, no lookaround (RE2 has neither).
_PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d-]{7,}\d", "<PHONE>"),
    # configurable entity-term mask (NER-lite): fixture demo masks the
    # token "customer" so the parity check exercises a non-empty path on
    # the synthetic corpus (which contains no real emails/IPs/phones).
    ("entity", r"\bcustomer\b", "<ENTITY>"),
)


def pii_redact(df: DataFrame, text_col: str = "text",
               patterns=_PII_PATTERNS) -> DataFrame:
    """Kernel: add per-pattern match counts (on the ORIGINAL text) and a
    ``redacted`` column with all patterns replaced, in order. Pure
    JVM-side ``regexp_count``/``regexp_replace`` — no Python in the row
    path, no shuffle; at 100 TB this is a map-only pass fused into
    whatever scan precedes it."""
    out = df
    red = F.col(text_col)
    for name, pat, repl in patterns:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
                          .cast("long"))
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("redacted", red)


@register(
    "op_pii_redact",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_email,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT)
             AS n_ip,
           CAST(len(regexp_extract_all(text, '\\+\\d[\\d-]{7,}\\d'))
             AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\\bcustomer\\b')) AS BIGINT)
             AS n_entity,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+\\d[\\d-]{7,}\\d', '<PHONE>', 'g'),
             '\\bcustomer\\b', '<ENTITY>', 'g') AS redacted
    FROM documents
    """,
    tags=("llm", "text"),
)
def op_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / entity masking before training: count and replace emails,
    IPv4 addresses, phone numbers and configured entity terms
    (match counts are taken on the original text; replacements apply in
    declaration order). The fixture corpus contains no synthetic PII, so
    the live path the parity check exercises is the entity-term mask;
    the email/IP/phone patterns are pinned by unit tests on planted rows
    (tests/test_operators.py).

    Scale: map-only regexp pass in codegen — one scan, zero shuffle,
    fused with adjacent stages by Catalyst.
    """
    d = T(spark, sf_dir, "documents")
    out = pii_redact(d)
    return out.select("doc_id", "n_email", "n_ip", "n_phone", "n_entity",
                      "redacted")


# ---------------------------------------------------------------------------
# op_corpus_summary — dataset-card rollup per (lang, source)
# ---------------------------------------------------------------------------

@register(
    "op_corpus_summary",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, source, text, n_chars,
                        {_DUCK_TOKS} AS toks
                 FROM documents)
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           {_ppm("sum(len(toks))", "count(*)")} AS avg_doc_tokens_ppm,
           {_ppm("sum(CASE WHEN len(toks) < 20 THEN 1 ELSE 0 END)",
                 "count(*)")} AS short_doc_ppm,
           {_ppm("count(*) - count(DISTINCT md5(text))", "count(*)")}
             AS exact_dup_ppm
    FROM tok
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    tags=("llm", "text"),
)
def op_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: one row per (lang, source) stratum with doc
    / token / char totals, unique-text count, mean document length and
    the short-document and exact-duplicate rates (ppm) — the first
    report a pre-training data audit produces, and the denominator set
    for mixture weighting (`op_mixture_sample`).

    Scale: one scan; ``count(DISTINCT md5(text))`` expands to Spark's
    two-phase distinct aggregate partitioned by the (tiny) stratum key
    plus the hash, so the heavy distinct shuffle is spread over text
    hashes, never concentrated on the handful of stratum keys. All other
    aggregates combine map-side.
    """
    d = (T(spark, sf_dir, "documents")
         .withColumn("toks", F.expr(_SPARK_TOKS)))
    return (d.groupBy("lang", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.expr("size(toks)")).cast("long").alias("n_tokens"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.countDistinct(F.md5("text")).cast("long")
                  .alias("n_unique_texts"),
                 F.expr(_ppm("sum(size(toks))", "count(*)"))
                  .alias("avg_doc_tokens_ppm"),
                 F.expr(_ppm(
                     "sum(CASE WHEN size(toks) < 20 THEN 1 ELSE 0 END)",
                     "count(*)")).alias("short_doc_ppm"),
                 F.expr(_ppm("count(*) - count(DISTINCT md5(text))",
                             "count(*)")).alias("exact_dup_ppm"))
            .orderBy("lang", "source"))


# ---------------------------------------------------------------------------
# op_tfidf_topterms — df-normalized term weighting, top-k terms per doc
# ---------------------------------------------------------------------------

_TFIDF_K = 3


@register(
    "op_tfidf_topterms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
           GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    s AS (SELECT doc_id, tf.term AS term,
                 CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                 {_ppm("tf", "df")} AS score_ppm
          FROM tf JOIN df ON tf.term = df.term),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
          FROM s)
    SELECT doc_id, term, tf, df, score_ppm, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {_TFIDF_K}
    """,
    tags=("llm", "text"),
)
def op_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document: term frequency weighted by
    inverse document frequency, top-{k} per doc. The weight is the exact
    rational ``floor(1e6 * tf / df)`` (linear-idf tf-idf) — integer
    end-to-end, so rankings can never diverge between engines on a float
    boundary the way log-idf scores can.

    Scale: tf is one (doc_id, term) count whose shuffle key is doc-local;
    df REUSES tf's output (distinct doc-term pairs) so the corpus is
    scanned once. The tf ⋈ df join shuffles on term — stopword keys are
    hot, which AQE skew-split handles, and a DF cap (as in
    `dedup_ngram_jaccard`) is the documented mitigation if a term's tf
    row set outgrows a task. The final top-k is a doc-local window
    (WindowGroupLimit prunes before the sort).
    """
    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    tok = d.select("doc_id", F.explode("toks").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    s = (tf.join(df, "term")
         .select("doc_id", "term",
                 F.col("tf").cast("long").alias("tf"),
                 F.col("df").cast("long").alias("df"),
                 F.expr(_ppm("tf", "df")).alias("score_ppm")))
    from pyspark.sql.window import Window
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("score_ppm").desc(), F.col("term")))
    return (s.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= _TFIDF_K)
            .select("doc_id", "term", "tf", "df", "score_ppm", "rank"))


# ---------------------------------------------------------------------------
# op_incremental_dedup — new batch vs indexed corpus (no old×old work)
# ---------------------------------------------------------------------------

@register(
    "op_incremental_dedup",
    oracle=f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT CASE WHEN doc_a % 2 = 0 THEN doc_a ELSE doc_b END AS corpus_doc,
           CASE WHEN doc_a % 2 = 0 THEN doc_b ELSE doc_a END AS new_doc,
           jaccard_ppm
    FROM mh_pairs
    WHERE (doc_a % 2) <> (doc_b % 2)
    ORDER BY corpus_doc, new_doc
    """,
    tags=("llm", "dedup"),
)
def op_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: an incoming batch (odd doc_ids
    stand in for "new") is checked against the already-indexed corpus
    (even doc_ids) WITHOUT recomputing corpus×corpus pairs — the shape
    every continuously-ingesting pipeline needs, where re-running
    `op_minhash_dedup` over corpus+batch would redo O(corpus) work per
    batch. Same MinHash/LSH machinery; the candidate join is
    batch-bands ⋈ corpus-bands only.

    Scale: at 10^10 docs the corpus band table is written ONCE
    (doc_id, b_idx, band — a persisted index, bucketed by (b_idx,
    band)) and each batch joins against it; per-batch cost is
    O(batch × collision sets), independent of corpus size. Here both
    sides derive from one scan since the fixture has no second table;
    the split filters push into each branch. Oracle cross-checks by
    filtering the full pair set to cross-parity pairs — same result,
    quadratic route."""
    bl = _minhash_bands(_shingle_rows(spark, sf_dir), sf_dir)
    return (_verify_inline(_band_join(bl.where("doc_id % 2 = 0"),
                                      bl.where("doc_id % 2 = 1")),
                           ("corpus_doc", "new_doc"))
            .orderBy("corpus_doc", "new_doc"))


# ---------------------------------------------------------------------------
# op_text_search_bm25 — ranked full-text retrieval over the corpus
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "stream", "hash")
_BM25_K = 10

# Okapi BM25 with k1=1.2, b=0.75 and a *linear* idf (N-df+0.5)/(df+0.5)
# instead of its log: every operation is IEEE-correctly-rounded
# (+ - * /), so the double score is bit-identical across engines and
# floor(1e6 * score) can never straddle an engine-specific libm ulp the
# way ln() can. The expression TEXT is shared verbatim by both engines
# so the operation order is identical too.
_BM25_EXPR = (
    "CAST(floor(1000000.0"
    " * ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    " * (CAST(tf AS DOUBLE) * 2.2)"
    " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75"
    "    * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))"
    "    / CAST(total_len AS DOUBLE)))) AS BIGINT)"
)


@register(
    "op_text_search_bm25",
    oracle=f"""
    WITH b2 AS (SELECT doc_id, len({_DUCK_TOKS}) AS dl, {_DUCK_TOKS} AS toks
                FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_len FROM b2),
    tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM b2),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
           WHERE term IN {_BM25_TERMS!r}
           GROUP BY doc_id, dl, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    s AS (SELECT doc_id, {_BM25_EXPR} AS s_ppm
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(s_ppm) AS BIGINT) AS score_ppm
    FROM s GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id
    LIMIT {_BM25_K}
    """,
    tags=("llm", "text"),
)
def op_text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked full-text retrieval: top-10 documents for a term query
    under Okapi BM25 (k1=1.2, b=0.75) with a linear idf — per-term
    scores are floored to integer ppm BEFORE the per-doc sum, so the
    final ranking is an integer aggregate that cannot diverge between
    engines on float addition order.

    Scale: the query-term IN filter lands directly on the exploded
    token stream, so tf is |matching doc-terms| — corpus-fraction
    sized — and df (per-term doc counts) plus the 1-row corpus stats
    both broadcast back into it on constant/term keys: no fact-sized
    shuffle at any point, and the top-k is TakeOrderedAndProject. The
    corpus is scanned twice (once for length stats, once for matches);
    at 10^10 docs the stats scan is replaced by the precomputed corpus
    manifest (`op_corpus_summary`) — the operator's join shape is
    unchanged.
    """
    from pyspark.sql.functions import broadcast

    d = T(spark, sf_dir, "documents") \
        .select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    b2 = d.select("doc_id", F.size("toks").alias("dl"), "toks")
    stats = (b2.agg(F.count("*").alias("n_docs"),
                    F.sum("dl").alias("total_len"))
             .withColumn("k", F.lit(1)))
    tok = b2.select("doc_id", "dl", F.explode("toks").alias("term")) \
            .filter(F.col("term").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    s = (tf.join(broadcast(df), "term")
         .withColumn("k", F.lit(1))
         .join(broadcast(stats), "k")
         .select("doc_id", F.expr(_BM25_EXPR).alias("s_ppm")))
    return (s.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_terms"),
                 F.sum("s_ppm").cast("bigint").alias("score_ppm"))
            .orderBy(F.desc("score_ppm"), "doc_id")
            .limit(_BM25_K))


# ---------------------------------------------------------------------------
# op_quality_classifier — linear quality model, exact integer logits
# ---------------------------------------------------------------------------

#: fixed "pretrained" weights (ppm-scaled integer linear model). The
#: numbers are illustrative; the CONTRACT is the arithmetic: integer
#: features × integer weights → BIGINT logit, no float anywhere, so
#: inference is bit-deterministic on any engine.
_QC_W = {"bias": -1_500_000, "stopword_ppm": 2, "distinct_ppm": 1,
         "n_words": -40, "avg_word_len_ppm": -1}


def _qc_logit(n_words: str, awl: str, stop: str, dist: str) -> str:
    w = _QC_W
    return (f"CAST({w['bias']} + {w['stopword_ppm']} * ({stop}) "
            f"+ {w['distinct_ppm']} * ({dist}) "
            f"+ {w['n_words']} * ({n_words}) "
            f"+ {w['avg_word_len_ppm']} * ({awl}) AS BIGINT)")


@register(
    "op_quality_classifier",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_words,
             {_ppm("len(replace(text, ' ', ''))", f"len({_DUCK_TOKS})")}
               AS awl,
             {_ppm(f"len(list_filter({_DUCK_TOKS}, t -> t IN ('a','the')))",
                   f"len({_DUCK_TOKS})")} AS stop,
             {_ppm(f"len(list_distinct({_DUCK_TOKS}))",
                   f"len({_DUCK_TOKS})")} AS dist
      FROM documents)
    SELECT doc_id, {_qc_logit("n_words", "awl", "stop", "dist")} AS logit_q,
           {_qc_logit("n_words", "awl", "stop", "dist")} > 0 AS keep
    FROM f
    """,
    tags=("llm", "text"),
)
def op_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE (the fasttext/logistic-head
    shape every pretraining pipeline runs over its corpus): per-doc
    features → fixed-weight dot product → keep/drop decision. The model
    stays integer end to end — ppm-scaled features, integer weights,
    BIGINT logit, threshold at 0 — because a sigmoid adds nothing to
    the DECISION (monotone) while exp() would make the score engine-
    dependent; downstream consumers that need a probability apply it
    at the edge.

    Complements `op_quality_filter` (hand-rule predicates): same
    features, learned-weights shape — swapping weights retrains the
    gate with zero plan change.

    Scale: single scan, narrow per-row HOF features, no shuffle, no
    Python; inference is free at any corpus size. A real 10^5-dim
    fasttext head would swap the feature CTE for a hashed-ngram
    explode + broadcast weight-table join — same integer contract.
    """
    d = T(spark, sf_dir, "documents").withColumn("toks",
                                                 F.expr(_SPARK_TOKS))
    logit = _qc_logit(
        "CAST(size(toks) AS BIGINT)",
        _ppm("length(replace(text, ' ', ''))", "size(toks)"),
        _ppm("size(filter(toks, t -> t IN ('a','the')))", "size(toks)"),
        _ppm("size(array_distinct(toks))", "size(toks)"))
    return d.select("doc_id",
                    F.expr(logit).alias("logit_q"),
                    F.expr(f"({logit}) > 0").alias("keep"))


# ---------------------------------------------------------------------------
# dedup_prefix — shared-prefix (boilerplate header) grouping
# ---------------------------------------------------------------------------

@register(
    "dedup_prefix",
    oracle="""
    WITH p AS (SELECT doc_id,
                      array_to_string(string_split(trim(text), ' ')[1:3],
                                      ' ') AS prefix
               FROM documents)
    SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM p GROUP BY prefix HAVING count(*) > 1
    ORDER BY prefix
    """,
    tags=("llm", "dedup"),
)
def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix dedup: group documents by their first 3 tokens and
    report groups with >1 member — the cheap detector for templated
    boilerplate (scraped pages sharing a header, license preambles,
    "Subject: re:" chains) that full-content hashing misses because the
    bodies differ. Production pipelines run this BEFORE near-dup
    mining: a prefix group is a high-prior candidate cluster at
    grouping cost, not MinHash cost.

    Scale: one two-phase aggregate on the prefix key — `dedup_exact`'s
    plan with a projected key; prefix keys are near-uniform (a single
    mega-boilerplate prefix is precisely the finding, and arrives
    pre-aggregated as one row).
    """
    d = T(spark, sf_dir, "documents")
    # NULL text keeps a NULL prefix (its own group), matching the
    # oracle's null-propagating array_to_string — Spark's concat_ws
    # would silently render a NULL array as '' and merge no-content
    # docs into the empty-text group (r12 null-seed fuzz)
    return (d.select("doc_id",
                     F.expr("CASE WHEN text IS NULL THEN NULL ELSE"
                            " concat_ws(' ', slice(split(trim(text), ' '),"
                            " 1, 3)) END").alias("prefix"))
             .groupBy("prefix")
             .agg(F.count("*").cast("long").alias("n_docs"),
                  F.min("doc_id").cast("long").alias("canonical_doc_id"))
             .filter(F.col("n_docs") > 1)
             .orderBy("prefix"))


# ---------------------------------------------------------------------------
# op_substring_dedup_spans — cross-doc repeated-run span report
# ---------------------------------------------------------------------------

#: run length (tokens) for exact-substring dedup; spans of >= this many
#: consecutive shared tokens count as duplicated text.
_SPAN_K = 8

_SPAN_TAIL = """
    rep AS (
      SELECT g.doc_id, g.pos AS s, g.pos + {K} - 1 AS e
      FROM g JOIN df ON g.gram = df.gram
      WHERE df.n_docs > 1),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS new_island
      FROM rep),
    marked AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM isl)
    SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM marked GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


_SPAN_SPARK_SQL = f"""
    WITH tok AS (SELECT doc_id, split(trim(text), ' ') AS toks
                 FROM documents),
    g AS (SELECT doc_id, t.pos,
                 xxhash64(concat_ws(' ', slice(toks, t.pos, {_SPAN_K})))
                   AS h1,
                 xxhash64('s2', concat_ws(' ', slice(toks, t.pos,
                                                     {_SPAN_K}))) AS h2
          FROM tok
          LATERAL VIEW explode(sequence(1, size(toks) - {_SPAN_K} + 1))
            t AS pos
          WHERE size(toks) >= {_SPAN_K}),
    flagged AS (SELECT doc_id, pos,
                       min(doc_id) OVER (PARTITION BY h1, h2) AS mn,
                       max(doc_id) OVER (PARTITION BY h1, h2) AS mx
                FROM g),
    rep AS (SELECT doc_id, pos AS s, pos + {_SPAN_K} - 1 AS e
            FROM flagged WHERE mn <> mx),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2) + 1
                  THEN 1 ELSE 0 END AS new_island
      FROM rep),
    marked AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM isl)
    SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM marked GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


@register(
    "op_substring_dedup_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                 FROM documents),
    g AS (SELECT doc_id, t.pos,
                 array_to_string(toks[t.pos:t.pos + {_SPAN_K - 1}], ' ')
                   AS gram
          FROM tok, unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS t(pos)
          WHERE len(toks) >= {_SPAN_K}),
    df AS (SELECT gram, count(DISTINCT doc_id) AS n_docs
           FROM g GROUP BY gram),
    {_SPAN_TAIL.format(K=_SPAN_K)}
    """,
    tags=("llm", "dedup"),
)
def op_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" shape, shingle-
    approximated): every maximal run of tokens covered by K-grams (K = `_SPAN_K` = 8)
    that appear in MORE THAN ONE document is reported as a duplicated
    span — the per-document cut list a span-removal pass consumes.
    Positioned K-grams → cross-doc document frequency → keep
    occurrences of shared grams → merge overlapping/adjacent spans per
    doc (classic island detection: a span starts a new island iff it
    begins past the running max end + 1).

    No pairwise join anywhere — unlike MinHash (doc-level verdicts),
    this is token-level yet stays LINEAR: occurrences ≈ token count,
    ONE uniform gram-keyed shuffle total, one doc-partitioned window
    whose partition is bounded by document length. (A suffix array
    gives the exact unbounded-length version; the fixed-K shingle form
    is the standard distributed approximation — any duplicated run
    >= K tokens is found exactly; shorter ones are below the dedup
    threshold by definition.)

    Scale (r6 rewrite — the sf3 probe caught the old shape at 11.7×
    the oracle): grams shuffle as a 128-bit hash pair (two independent
    xxhash64s; a false cross-doc flag needs two distinct grams
    colliding on BOTH words, ~2^-128 per pair — the standard identity
    discipline at corpus scale, same family as MinHash signatures),
    never as ~85-byte strings; and the shared-gram flag is a MIN/MAX
    WINDOW over the hash partition instead of an aggregate + join
    back, so the gram table is exploded ONCE and shuffled ONCE (the
    old plan exploded it twice and shuffled it three times — agg,
    join-left, join-right). Measured at sf3 (30× docs): 26.6 s →
    5.7 s warm, from 11.7× to ~1.35× the DuckDB twin, with the sf1
    point improving the same way. A stopword-ish ultra-hot gram
    inflates only its hash partition (min/max state, O(1)), never a
    candidate pair set. At 10^9 docs the gram shuffle is ~token
    count × 24 bytes — the same order as tokenizing the corpus once.
    """
    return Q(spark, sf_dir, _SPAN_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_vocab_topk / op_bigram_condprob — corpus vocabulary + LM statistics
# ---------------------------------------------------------------------------

_VOCAB_SPARK_SQL = """
    WITH tok AS (
      SELECT explode(split(lower(trim(text)), ' ')) AS token
      FROM documents),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
    ranked AS (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM counts)
    SELECT rank, token, n FROM ranked WHERE rank <= 100 ORDER BY rank
"""

_VOCAB_DUCK_SQL = """
    WITH tok AS (
      SELECT unnest(string_split(lower(trim(text)), ' ')) AS token
      FROM documents),
    counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n
      FROM tok WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
    ranked AS (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM counts)
    SELECT rank, token, n FROM ranked WHERE rank <= 100 ORDER BY rank
"""


@register("op_vocab_topk", oracle=_VOCAB_DUCK_SQL, tags=("llm", "text"))
def op_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: lowercase-token frequency table with a
    min-count floor (5) and the top-100 ranked by (count desc, token)
    — the first artifact of any tokenizer-training / coverage-analysis
    pass over a training corpus (BPE starts from exactly this table).

    Scale: tokenize-explode is map-side; the count is ONE uniform
    token-keyed two-phase aggregate (map-side combine eats the Zipf
    head — 'the' arrives at the reducer as one partial per map task,
    not one row per occurrence); the top-100 is a WindowGroupLimit
    over the surviving vocabulary, never a full sort. The min-count
    floor is the vocab-size control: at 100 TB raise it with corpus
    mass (it prunes the hapax tail, which is most of the distinct
    keys, before the rank)."""
    # The rank plans as WindowGroupLimit — partial top-100 per
    # partition, then a single-partition final over at most
    # 100×partitions survivors — bounded by the HAVING-pruned
    # vocabulary, never the corpus. (A bare ORDER+LIMIT would plan
    # TakeOrderedAndProject but could not emit the rank column; the
    # r6 review corrected the original claim of that shape here.)
    # Identical SQL modulo explode/unnest dialect.
    return Q(spark, sf_dir, _VOCAB_SPARK_SQL)


_BIGRAM_SPARK_SQL = """
    WITH tok AS (
      SELECT split(lower(trim(text)), ' ') AS toks FROM documents),
    bi AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM tok
      LATERAL VIEW explode(sequence(0, size(toks) - 2)) t AS i
      WHERE size(toks) >= 2),
    big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM bi WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
    uni AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
    scored AS (
      SELECT b.w1, b.w2, b.c12,
             CAST(floor(1000000.0 * b.c12 / u.c1) AS BIGINT) AS cond_ppm
      FROM big b JOIN uni u ON b.w1 = u.w1),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rank
      FROM scored)
    SELECT rank, w1, w2, c12, cond_ppm FROM ranked
    WHERE rank <= 50 ORDER BY rank
"""

_BIGRAM_DUCK_SQL = """
    WITH tok AS (
      SELECT string_split(lower(trim(text)), ' ') AS toks FROM documents),
    bi AS (
      SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
      FROM tok, unnest(range(0, len(toks) - 1)) t(i)
      WHERE len(toks) >= 2),
    big AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM bi WHERE w1 <> '' AND w2 <> '' GROUP BY w1, w2),
    uni AS (
      SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY w1),
    scored AS (
      SELECT b.w1, b.w2, b.c12,
             CAST(floor(1000000.0 * b.c12 / u.c1) AS BIGINT) AS cond_ppm
      FROM big b JOIN uni u ON b.w1 = u.w1),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY c12 DESC, w1, w2) AS rank
      FROM scored)
    SELECT rank, w1, w2, c12, cond_ppm FROM ranked
    WHERE rank <= 50 ORDER BY rank
"""


@register("op_bigram_condprob", oracle=_BIGRAM_DUCK_SQL,
          tags=("llm", "text"))
def op_bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: P(w2|w1) as floor-ppm over
    the corpus bigram table, top-50 bigrams by raw count — the n-gram
    LM / contamination-fingerprint primitive (perplexity filters and
    memorization probes both start from conditional n-gram tables).

    Determinism: counts are exact BIGINTs; the conditional is ONE
    float divide surfaced as floor-ppm (both engines compute the same
    1e6·c12/c1 double and floor it — the repo's standard integer-ppm
    contract); ranking ties break on the bigram itself.

    Scale: positional self-zip explodes each document into its
    (len−1) bigrams map-side; the bigram count is a uniform two-phase
    aggregate; the unigram table derives from the BIGRAM aggregate
    (sum over w2) — no second corpus pass — and joins back on the
    uniform w1 key. Zipf-head bigrams combine map-side exactly like
    the vocab count."""
    return Q(spark, sf_dir, _BIGRAM_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_ngram_novelty — first-occurrence novelty scoring
# ---------------------------------------------------------------------------

_NOVELTY_DUCK_SQL = f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM tok),
    fo AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s),
    per AS (
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS novel
      FROM sh JOIN fo f ON f.s = sh.s GROUP BY sh.doc_id)
    SELECT doc_id, n_grams, novel,
           {_ppm("novel", "n_grams")} AS novelty_ppm
    FROM per ORDER BY doc_id
"""


@register("op_ngram_novelty", oracle=_NOVELTY_DUCK_SQL,
          tags=("llm", "text"))
def op_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the floor-ppm share of a doc's
    distinct 3-gram shingles whose FIRST corpus occurrence (min doc_id
    over the ingest order) is the doc itself — the standard
    repeated-content decay signal for training-mixture curation (late
    crawl snapshots re-shipping old text score near zero and can be
    downweighted before training).

    Determinism: first occurrence is min over the total doc_id order;
    counts are exact BIGINTs; one floor-ppm divide. The engine keys
    the gram shuffle on a 128-bit xxhash64 pair instead of the gram
    string (the substring-spans discipline: 2^-128 collision odds,
    and a hash-equal/string-unequal pair would have to ALSO collide
    on min(doc_id) to change any output); the oracle groups the
    literal strings — results agree unless 128 bits collide.

    Scale: one gram explode; the min(doc_id) rides a WINDOW over the
    hash partition (no gram-table aggregate + fact-sized join back),
    then one doc-keyed aggregate — two uniform shuffles total, both
    carrying (hash-pair, doc_id) rows, never gram strings."""
    from pyspark.sql import Window as W

    d = T(spark, sf_dir, "documents").withColumn("toks", F.expr(_SPARK_TOKS))
    sh = (d.select("doc_id",
                   F.explode(F.expr(_SPARK_SHINGLES)).alias("s"))
          .select("doc_id",
                  F.xxhash64("s").alias("h1"),
                  F.xxhash64(F.lit("nv2"), "s").alias("h2")))
    w = W.partitionBy("h1", "h2")
    per = (sh.withColumn("fd", F.min("doc_id").over(w))
           .groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_grams"),
                F.sum(F.when(F.col("fd") == F.col("doc_id"), 1)
                      .otherwise(0)).cast("bigint").alias("novel")))
    return (per.select("doc_id", "n_grams", "novel",
                       F.expr(_ppm("novel", "n_grams"))
                       .alias("novelty_ppm"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# op_shingle_containment — asymmetric near-dup (snippet-in-page)
# ---------------------------------------------------------------------------

_CONTAINMENT_MIN_PPM = 800_000

_CONTAINMENT_DUCK_SQL = f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM tok),
    hot AS (SELECT s FROM sh GROUP BY s
            HAVING count(*) > {_NGRAM_DF_CAP}),
    idx AS (SELECT doc_id, s FROM sh
            WHERE s NOT IN (SELECT s FROM hot)),
    card AS (SELECT doc_id, count(*) AS n FROM idx GROUP BY doc_id),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
             FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    sized AS (
      SELECT doc_a, doc_b, c, ca.na AS na, cb.nb AS nb
      FROM cand
      JOIN (SELECT doc_id, n AS na FROM card) ca ON ca.doc_id = doc_a
      JOIN (SELECT doc_id, n AS nb FROM card) cb ON cb.doc_id = doc_b),
    directed AS (
      SELECT doc_a AS src_doc, doc_b AS dst_doc,
             {_ppm("c", "na")} AS containment_ppm FROM sized
      UNION ALL
      SELECT doc_b AS src_doc, doc_a AS dst_doc,
             {_ppm("c", "nb")} AS containment_ppm FROM sized)
    SELECT src_doc, dst_doc, containment_ppm
    FROM directed WHERE containment_ppm >= {_CONTAINMENT_MIN_PPM}
    ORDER BY src_doc, dst_doc
"""


@register("op_shingle_containment", oracle=_CONTAINMENT_DUCK_SQL,
          tags=("llm", "dedup"))
def op_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: directed pairs where ≥ 80% of
    the SOURCE doc's capped shingle vocabulary also appears in the
    destination (C(A→B) = |A∩B| / |A|) — the snippet-in-page /
    quote-in-article family Jaccard misses (a 50-token excerpt inside
    a 5000-token page has tiny Jaccard but containment ≈ 1), the
    dedup signal CCNet/Dolma-style pipelines apply after symmetric
    near-dup.

    Metric semantics: containment is over the `_NGRAM_DF_CAP`-capped
    vocabulary, exactly `dedup_ngram_jaccard`'s stopword-shingle
    treatment (boilerplate counts toward neither numerator nor
    denominator). Both directions of every undirected candidate are
    scored; each direction passes or fails the 0.8 threshold on its
    own denominator.

    Scale: identical machinery to `dedup_ngram_jaccard` (same capped
    inverted index, same SMJ-pinned self-join, same bounded-bucket
    guarantee ≤ cap²/2 pairs per shingle); the directed expansion is
    a 2× projection of the candidate AGGREGATE (pair-sized, not
    index-sized), so no new shuffle shapes — and the shared builder's
    once-persisted shingle table (r15, see
    `_capped_index_pair_counts`)."""
    cand, card = _capped_index_pair_counts(spark, sf_dir)
    sized = (cand
             .join(card.select(F.col("doc_id").alias("doc_a"),
                               F.col("n").alias("na")), "doc_a")
             .join(card.select(F.col("doc_id").alias("doc_b"),
                               F.col("n").alias("nb")), "doc_b"))
    fwd = sized.select(F.col("doc_a").alias("src_doc"),
                       F.col("doc_b").alias("dst_doc"),
                       F.expr(_ppm("c", "na")).alias("containment_ppm"))
    rev = sized.select(F.col("doc_b").alias("src_doc"),
                       F.col("doc_a").alias("dst_doc"),
                       F.expr(_ppm("c", "nb")).alias("containment_ppm"))
    return (fwd.unionAll(rev)
            .filter(F.col("containment_ppm") >= _CONTAINMENT_MIN_PPM)
            .orderBy("src_doc", "dst_doc"))


# ---------------------------------------------------------------------------
# op_feature_hashing — hashing-trick sparse features
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64

_FH_DUCK_SQL = f"""
    WITH tok AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT)
               % {_FH_BUCKETS} AS bucket
      FROM tok)
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket
"""

_FH_SPARK_SQL = f"""
    WITH tok AS (
      SELECT doc_id, explode({_SPARK_TOKS}) AS t FROM documents),
    h AS (
      SELECT doc_id,
             cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint)
               % {_FH_BUCKETS} AS bucket
      FROM tok)
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket
"""


@register("op_feature_hashing", oracle=_FH_DUCK_SQL,
          tags=("llm", "text"))
def op_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: each document's tokens hash into a
    fixed {_FH_BUCKETS}-bucket space and the per-(doc, bucket) counts
    ARE the sparse feature vector — the vocabulary-free text
    representation (sklearn HashingVectorizer / Vowpal Wabbit) that
    needs no fitted dictionary and therefore no global state at 100 TB.

    Determinism: the bucket is the 28-bit md5-prefix integer mod a
    power of two — the repo's standard cross-engine hash (same
    construction as the MinHash base hash); the operand is
    non-negative, so `%` agrees between engines without a pmod shim.

    Scale: tokenize + hash are map-side projections; ONE two-phase
    aggregate on (doc_id, bucket) — high-cardinality uniform keys with
    ≤ {_FH_BUCKETS} cells per doc, so output is corpus-LINEAR and the
    hot-vocabulary skew of a dictionary featurizer (Zipf head words
    all hitting one reducer) cannot occur: the head spreads over
    buckets by hash."""
    return Q(spark, sf_dir, _FH_SPARK_SQL)


# Render the constant into the plain-string docstring (f-string would
# not be a docstring; the meta-test pins that trap).
op_feature_hashing.__doc__ = op_feature_hashing.__doc__.replace(
    "{_FH_BUCKETS}", str(_FH_BUCKETS))


# ---------------------------------------------------------------------------
# op_minhash_est_vs_exact — sketch-accuracy audit
# ---------------------------------------------------------------------------

_MH_EST_PPM_STEP = 1_000_000 // _N_HASH  # 62500: one matching component

_MH_EST_DUCK_SQL = f"""
    WITH {_DUCK_MINHASH_CTES},
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({_sig_matches("sa", "sb")}) * {_MH_EST_PPM_STEP}
                  AS BIGINT) AS est_ppm
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b),
    exact AS (
      SELECT i.doc_a, i.doc_b,
             {_ppm("i.c", "ca.n + cb.n - i.c")} AS exact_ppm
      FROM inter i
      JOIN card ca ON ca.doc_id = i.doc_a
      JOIN card cb ON cb.doc_id = i.doc_b)
    SELECT e.doc_a, e.doc_b, e.est_ppm,
           coalesce(x.exact_ppm, 0) AS exact_ppm,
           abs(e.est_ppm - coalesce(x.exact_ppm, 0)) AS abs_err_ppm
    FROM est e
    LEFT JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
    ORDER BY e.doc_a, e.doc_b
"""


@register("op_minhash_est_vs_exact", oracle=_MH_EST_DUCK_SQL,
          tags=("llm", "dedup"))
def op_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: for every MinHash-LSH candidate pair,
    the signature-estimated Jaccard (matching components / 16, in
    ppm) NEXT TO the exact shingle-set Jaccard and the absolute error
    — the measure-the-sketch step that justifies (or indicts) the
    band/row configuration before a 100 TB dedup run commits to it
    (the same audit-the-estimator pattern as the HLL keys'
    within-tolerance booleans, with the full error surfaced instead
    of a pass flag).

    Determinism: signature components are exact integers (same
    universal-hash constants as `op_minhash_dedup`), so the estimate
    is a count of integer equalities; the exact side is the
    registered Jaccard arithmetic; a candidate pair with NO shared
    shingle (a pure band collision) scores exact 0 via a coalesce on
    both engines.

    Scale: the same band rows as `op_minhash_dedup` (`_minhash_bands`),
    carrying the signature components beside the shingle set, so both
    the estimate and the exact Jaccard are read off the candidate row
    — no join back to a per-doc table, never a second corpus pass."""
    return (_minhash_est_pairs(spark, sf_dir)
            .selectExpr("doc_a", "doc_b", "est_ppm", "exact_ppm",
                        "abs(est_ppm - exact_ppm) AS abs_err_ppm")
            .orderBy("doc_a", "doc_b"))


def _minhash_est_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every LSH candidate pair once, as ``(doc_a, doc_b, est_ppm,
    exact_ppm)``: the signature estimate (matching components / 16)
    next to the exact shingle-set Jaccard, 0 for a pure band collision
    (no shared shingle). The pair table behind both
    `op_minhash_est_vs_exact` and `op_minhash_threshold_sweep`."""
    bl = _minhash_bands(_shingle_rows(spark, sf_dir), sf_dir, sigs=True)
    return (_band_join(bl)
            .selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b",
                        f"CAST(({_sig_matches('a', 'b')})"
                        f" * {_MH_EST_PPM_STEP} AS BIGINT) AS est_ppm",
                        "size(array_intersect(a.shingles, b.shingles)) AS c",
                        "size(a.shingles) AS na", "size(b.shingles) AS nb")
            .selectExpr("doc_a", "doc_b", "est_ppm",
                        f"coalesce({_ppm('c', 'na + nb - c')}, 0)"
                        " AS exact_ppm")
            .distinct())


# ---------------------------------------------------------------------------
# op_langid_confusion — classifier evaluation against labeled langs
# ---------------------------------------------------------------------------

def _langid_pred_ctes(toks_filter: str) -> str:
    """The shared labeled→predicted CTE body (dialect differs only in
    the list-filter spelling passed in)."""
    s_en = _lang_score(toks_filter, _LANG_LISTS["en"])
    s_de = _lang_score(toks_filter, _LANG_LISTS["de"])
    s_fr = _lang_score(toks_filter, _LANG_LISTS["fr"])
    return f"""
    s AS (SELECT doc_id, lang,
          {s_en} AS s_en, {s_de} AS s_de, {s_fr} AS s_fr
          FROM tok),
    pred AS (
      SELECT lang AS labeled_lang,
             CASE WHEN s_de > s_en AND s_de > s_fr THEN 'de'
                  WHEN s_fr > s_en AND s_fr > s_de THEN 'fr'
                  ELSE 'en' END AS predicted
      FROM s),
    cell AS (
      SELECT labeled_lang, predicted, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY labeled_lang, predicted)
    SELECT labeled_lang, predicted, n,
           CAST(floor(1000000.0 * n /
                sum(n) OVER (PARTITION BY labeled_lang)) AS BIGINT)
             AS row_share_ppm
    FROM cell ORDER BY labeled_lang, predicted
"""


_LANGID_CONF_DUCK_SQL = f"""
    WITH tok AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks
                 FROM documents),
    {_langid_pred_ctes("len(list_filter(toks, t -> t IN ({inlist})))")}
"""

_LANGID_CONF_SPARK_SQL = f"""
    WITH tok AS (SELECT doc_id, lang, {_SPARK_TOKS} AS toks
                 FROM documents),
    {_langid_pred_ctes("size(filter(toks, t -> t IN ({inlist})))")}
"""


@register("op_langid_confusion", oracle=_LANGID_CONF_DUCK_SQL,
          tags=("llm", "text"))
def op_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: `op_lang_id`'s wordlist classifier
    evaluated against the corpus's labeled lang column — per
    (labeled, predicted) cell, the count and the row-share in
    floor-ppm (the per-label recall diagonal). The fixture's es/zh
    labels have NO discriminator list, so their rows expose exactly
    the coverage gap a production curation run must catch before
    trusting the classifier on a new crawl (the op_confusion_matrix
    pattern applied to a text heuristic instead of a numeric
    threshold).

    Determinism: integer wordlist-hit scores, argmax with the same
    tie precedence as `op_lang_id` ('en' on ties), exact counts, one
    floor-ppm divide; the row share is a window over the ≤|langs|²
    cell table.

    Scale: one corpus scan with narrow HOF projections, one two-phase
    aggregate to ≤ |langs|² cells — everything after is
    metadata-sized. Identical CTE body on both engines (dialect
    differs only in the list-filter spelling)."""
    return Q(spark, sf_dir, _LANGID_CONF_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_tokenizer_fertility — chars-per-token by language
# ---------------------------------------------------------------------------

_FERTILITY_DUCK_SQL = f"""
    WITH d AS (
      SELECT lang, n_chars,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS toks
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(toks) AS BIGINT) AS tokens,
           CAST(floor(1000.0 * sum(n_chars) / sum(toks)) AS BIGINT)
             AS chars_per_token_milli
    FROM d GROUP BY lang ORDER BY lang
"""

_FERTILITY_SPARK_SQL = _FERTILITY_DUCK_SQL.replace(
    f"len({_DUCK_TOKS})", f"size({_SPARK_TOKS})")


@register("op_tokenizer_fertility", oracle=_FERTILITY_DUCK_SQL,
          tags=("llm", "text"))
def op_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: characters per (whitespace)
    token in floor-milli per lang — the compare-tokenizers-per-
    language read (a BPE trained on English text shows inflated
    fertility on zh/de; budget planning and mixture weighting both
    consume this table; swap the token expression for the BPE-ish
    regex of `op_token_count` to compare tokenizers in one query).

    Determinism: exact BIGINT char/token sums, one floor-milli
    divide per lang.

    Scale: single two-phase aggregate to |langs| rows — map-side
    combine does all the work; the dialect twins differ only in the
    size()/len() spelling."""
    return Q(spark, sf_dir, _FERTILITY_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_duplicate_rate_by_source — exact-dup share per source
# ---------------------------------------------------------------------------

_DUP_RATE_DUCK_SQL = """
    WITH d AS (
      SELECT source, md5(text) AS h FROM documents),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
      FROM d GROUP BY source)
    SELECT source, n_docs, n_distinct,
           n_docs - n_distinct AS dup_docs,
           CAST(floor(1000000.0 * (n_docs - n_distinct) / n_docs)
                AS BIGINT) AS dup_ppm
    FROM s ORDER BY source
"""


@register("op_duplicate_rate_by_source", oracle=_DUP_RATE_DUCK_SQL,
          tags=("llm", "dedup"))
def op_duplicate_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: docs, distinct texts (by
    md5), and the duplicate share in floor-ppm — the per-domain
    dup-rate dashboard that decides WHERE `dedup_exact` effort goes
    (a mirror-heavy domain dedups before mixing; a clean one skips
    the pass).

    Determinism: md5 is identical on both engines; counts exact; one
    floor-ppm divide.

    Scale: the md5 projection is map-side; count(DISTINCT h) inside a
    per-source aggregate follows the repo's pre-distinct rule when it
    matters — here the distinct runs WITHIN the (source, h) grain, so
    Catalyst plans the standard two-shuffle distinct-aggregate
    ((source, h) partial dedup, then source rollup) with no EXPAND,
    uniform keys throughout (the hash spreads any one text's
    replicas... same text = same key, which is exactly the dedup
    grain, bounded per source by construction)."""
    return Q(spark, sf_dir, _DUP_RATE_DUCK_SQL)


# ---------------------------------------------------------------------------
# op_dedup_normalized — canonical-form exact dedup
# ---------------------------------------------------------------------------

#: Normalization twins. Spark's regexp_replace is GLOBAL by default;
#: DuckDB's replaces only the FIRST match unless the 'g' flag is passed
#: (same dialect split scalar.py:338 and dedup_exact's oracle already
#: handle) — a shared flag-less string would make the oracle's
#: normalized hash semantically wrong on any corpus with real
#: case/punctuation mirror copies.
_NORM_TEXT_SPARK = "regexp_replace(lower(text), '[^a-z0-9 ]', '')"
_NORM_TEXT_DUCK = "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')"

_DEDUP_NORM_BODY = """
    WITH h AS (
      SELECT doc_id, source, md5(text) AS raw_h,
             md5({norm}) AS nh
      FROM documents)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT raw_h) AS BIGINT) AS distinct_raw,
           CAST(count(DISTINCT nh) AS BIGINT) AS distinct_norm,
           CAST(count(DISTINCT raw_h) - count(DISTINCT nh) AS BIGINT)
             AS norm_collapsed
    FROM h GROUP BY source ORDER BY source
"""

_DEDUP_NORM_DUCK_SQL = _DEDUP_NORM_BODY.format(norm=_NORM_TEXT_DUCK)
_DEDUP_NORM_SPARK_SQL = _DEDUP_NORM_BODY.format(norm=_NORM_TEXT_SPARK)


@register("op_dedup_normalized", oracle=_DEDUP_NORM_DUCK_SQL,
          tags=("llm", "dedup"))
def op_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup audit: per source, how many distinct
    documents remain under the RAW byte hash vs under a normalized
    hash (lowercase, non-alphanumerics stripped) — the delta is the
    case/punctuation mirror-copy mass `dedup_exact` cannot see, and
    the number that decides whether a normalization pass is worth
    inserting before the (much costlier) shingle/sketch rungs of the
    dedup ladder. (Reported as a per-source summary: the synthetic
    corpus has zero normalized collisions, and an audit whose healthy
    state is empty would be a vacuous fixture — the summary keeps
    both the collapsed and not-collapsed arms observable.)

    Determinism: regexp_replace with an explicit character class (no
    locale-dependent \\w) as DIALECT TWINS — Spark replaces globally
    by default, DuckDB needs the 'g' flag (the scalar.py:338 trap;
    the collapsing arm is exercised by a mirror-copy micro-fixture in
    tests/test_llm_text.py, not just the collision-free corpus); md5
    identical, exact distinct counts.

    Scale: normalize + hash are map-side; the two distincts share one
    (source, hash) grain pipeline each — two-phase, no EXPAND risk
    (each count(DISTINCT) is over a DIFFERENT column, so Catalyst
    plans the multi-distinct EXPAND here; the projection is 2×32-byte
    hashes per row, the one case where EXPAND's row doubling is
    byte-cheap and accepted). Twins differ in the 'g' flag only."""
    return Q(spark, sf_dir, _DEDUP_NORM_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_ttr_by_source — type-token ratio (vocabulary richness)
# ---------------------------------------------------------------------------

_TTR_DUCK_SQL = f"""
    WITH tok AS (
      SELECT source, unnest({_DUCK_TOKS}) AS t FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS tokens,
           CAST(count(DISTINCT t) AS BIGINT) AS types,
           CAST(floor(1000000.0 * count(DISTINCT t) / count(*))
                AS BIGINT) AS ttr_ppm
    FROM tok GROUP BY source ORDER BY source
"""

_TTR_SPARK_SQL = _TTR_DUCK_SQL.replace(
    f"unnest({_DUCK_TOKS})", f"explode({_SPARK_TOKS})")


@register("op_ttr_by_source", oracle=_TTR_DUCK_SQL, tags=("llm", "text"))
def op_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per source: distinct tokens over total tokens
    in floor-ppm — the vocabulary-richness read (template/boilerplate
    farms score low TTR, organic prose high; a curation mix wants to
    know which is which before weighting; `op_repetition_stats` is
    the within-document sibling, this is the cross-document one).

    Determinism: exact counts, one floor-ppm divide.

    Scale: one token explode; count(DISTINCT t) inside the source
    aggregate plans as the standard (source, t) partial-dedup +
    source rollup two-phase shape (no EXPAND — single distinct
    aggregate per the HLL-greening rule); the Zipf head dedups
    map-side. Twins differ in the explode spelling only."""
    return Q(spark, sf_dir, _TTR_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_minhash_threshold_sweep — band-config tuning curve
# ---------------------------------------------------------------------------

#: Ground-truth cut and sweep points, fixture-calibrated: LSH
#: candidates on this corpus are all high-Jaccard (exact 0.89-0.99,
#: estimates quantized to 1/16 steps), so a 0.5 truth cut makes every
#: threshold a perfect classifier and the curve never moves. Truth at
#: 0.97 splits the candidates; thresholds bracket the estimate's
#: quantization steps (15/16 and 16/16) so precision/recall actually
#: trade — the fixture-fit rule applied to an operating curve.
_MH_SWEEP_TRUTH_PPM = 970_000
_MH_SWEEP_THRESHOLDS = (900_000, 950_000, 1_000_000)

_MH_SWEEP_DUCK_SQL = f"""
    WITH {_DUCK_MINHASH_CTES},
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({_sig_matches("sa", "sb")}) * {_MH_EST_PPM_STEP}
                  AS BIGINT) AS est_ppm
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b),
    truth AS (
      SELECT e.doc_a, e.doc_b, e.est_ppm,
             coalesce({_ppm("i.c", "ca.n + cb.n - i.c")}, 0)
               >= {_MH_SWEEP_TRUTH_PPM}
               AS is_dup
      FROM est e
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      LEFT JOIN card ca ON ca.doc_id = e.doc_a
      LEFT JOIN card cb ON cb.doc_id = e.doc_b),
    sweep AS (
      {" UNION ALL ".join(
          f'''SELECT {t} AS threshold_ppm,
             CAST(sum(CASE WHEN est_ppm >= {t} AND is_dup
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN est_ppm >= {t} AND NOT is_dup
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN est_ppm < {t} AND is_dup
                      THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM truth''' for t in _MH_SWEEP_THRESHOLDS)})
    SELECT threshold_ppm, tp, fp, fn,
           {_ppm("tp", "tp + fp")} AS precision_ppm,
           {_ppm("tp", "tp + fn")} AS recall_ppm
    FROM sweep WHERE tp + fp > 0 AND tp + fn > 0
    ORDER BY threshold_ppm
"""


@register("op_minhash_threshold_sweep", oracle=_MH_SWEEP_DUCK_SQL,
          tags=("llm", "dedup"))
def op_minhash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash decision-threshold tuning curve: precision / recall of
    the SIGNATURE estimate against exact-Jaccard ≥ 0.97 ground truth
    (fixture-calibrated — see `_MH_SWEEP_TRUTH_PPM`),
    at three candidate thresholds — the table a dedup operator reads
    to pick the ship threshold (est ≥ 0.5 trades recall for
    precision; est ≥ 0.3 the reverse), extending
    `op_minhash_est_vs_exact`'s per-pair errors into the aggregate
    operating curve (the precision/recall framing of
    `op_confusion_matrix`, applied to the sketch).

    Determinism: exact integer signature matches and Jaccard
    arithmetic; the sweep is one aggregate per threshold over the
    candidate pair table; guards drop degenerate thresholds (no
    positive predictions / no positives) identically on both engines.

    Scale: the candidate pairs of `op_minhash_est_vs_exact`, built
    once; each pair is replicated |thresholds| times and counted in
    ONE groupBy(threshold_ppm) — pair-sized work, never a new corpus
    pass, and widening the sweep only lengthens the threshold list."""
    thresholds = ", ".join(map(str, _MH_SWEEP_THRESHOLDS))
    return (_minhash_est_pairs(spark, sf_dir)
            .selectExpr("est_ppm",
                        f"exact_ppm >= {_MH_SWEEP_TRUTH_PPM} AS is_dup",
                        f"explode(array({thresholds})) AS threshold_ppm")
            .groupBy("threshold_ppm")
            .agg(F.expr("count_if(est_ppm >= threshold_ppm AND is_dup)")
                  .alias("tp"),
                 F.expr("count_if(est_ppm >= threshold_ppm AND NOT is_dup)")
                  .alias("fp"),
                 F.expr("count_if(est_ppm < threshold_ppm AND is_dup)")
                  .alias("fn"))
            .where("tp + fp > 0 AND tp + fn > 0")
            .selectExpr("threshold_ppm", "tp", "fp", "fn",
                        f"{_ppm('tp', 'tp + fp')} AS precision_ppm",
                        f"{_ppm('tp', 'tp + fn')} AS recall_ppm")
            .orderBy("threshold_ppm"))


# ---------------------------------------------------------------------------
# op_token_overlap_matrix — cross-source vocabulary Jaccard
# ---------------------------------------------------------------------------

def _tok_overlap_sql(toks: str, unnest: str) -> str:
    return f"""
    WITH st AS (
      SELECT DISTINCT source, t
      FROM (SELECT source, {unnest} AS t
            FROM (SELECT source, {toks} AS toks FROM documents))),
    card AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             FROM st GROUP BY source),
    common AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS cmn
      FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
      GROUP BY a.source, b.source)
    SELECT src_a, src_b, cmn, ca.n AS vocab_a, cb.n AS vocab_b,
           {_ppm("cmn", "ca.n + cb.n - cmn")} AS jaccard_ppm
    FROM common
    JOIN card ca ON ca.source = src_a
    JOIN card cb ON cb.source = src_b
    ORDER BY src_a, src_b
"""


_TOK_OVERLAP_SPARK_SQL = _tok_overlap_sql(_SPARK_TOKS, "explode(toks)")
_TOK_OVERLAP_DUCK_SQL = _tok_overlap_sql(_DUCK_TOKS, "unnest(toks)")


@register("op_token_overlap_matrix", oracle=_TOK_OVERLAP_DUCK_SQL,
          tags=("llm", "text"))
def op_token_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap: Jaccard similarity between
    every pair of sources' token SETS — the corpus-mixing read
    (two sources sharing 90 % of their vocabulary are one domain and
    their mixture weights should be set jointly; a near-zero pair is
    genuinely complementary data; `op_ttr_by_source` reads each
    source alone, this reads them against each other).

    Determinism: exact distinct-token sets, integer intersection
    counts, one floor-ppm Jaccard per pair.

    Scale: the (source, token) distinct is a two-phase aggregate
    whose map side eats the Zipf head; the pair join is the inverted-
    index join on the TOKEN key — per-token join output is bounded by
    |sources|² (each source contributes one row per token after the
    distinct), so no hot token can quadratically blow a bucket, the
    same boundedness argument as `_NGRAM_DF_CAP` but structural
    rather than capped. Output is |sources|²/2 rows. Twins differ in
    the split/unnest spellings only."""
    return Q(spark, sf_dir, _TOK_OVERLAP_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_span_corruption — T5-style span-corruption planning
# ---------------------------------------------------------------------------

#: block width (tokens) and mask modulus: a block is masked iff
#: md5(doc_id|block) ≡ 0 (mod 5) — a deterministic ≈20 % corruption
#: rate every engine and every re-run agrees on.
_SPANCORR_BLOCK = 32
_SPANCORR_MOD = 5

_SPANCORR_SPARK_SQL = f"""
    WITH d AS (
      SELECT doc_id, CAST(size({_SPARK_TOKS}) AS BIGINT) AS n
      FROM documents),
    b AS (SELECT doc_id, n, (n + {_SPANCORR_BLOCK - 1}) div {_SPANCORR_BLOCK}
                   AS n_blocks
          FROM d),
    x AS (SELECT doc_id, n, n_blocks,
                 explode(sequence(CAST(0 AS BIGINT), n_blocks - 1)) AS blk
          FROM b WHERE n_blocks > 0),
    m AS (
      SELECT doc_id, n_blocks, blk,
             CASE WHEN cast(conv(substring(md5(concat(
                        CAST(doc_id AS STRING), '|', CAST(blk AS STRING))),
                        1, 8), 16, 10) as bigint) % {_SPANCORR_MOD} = 0
                  THEN 1 ELSE 0 END AS masked,
             CASE WHEN blk = n_blocks - 1 THEN n - {_SPANCORR_BLOCK} * blk
                  ELSE CAST({_SPANCORR_BLOCK} AS BIGINT) END AS blk_toks
      FROM x)
    SELECT doc_id, CAST(max(n_blocks) AS BIGINT) AS n_blocks,
           CAST(sum(masked) AS BIGINT) AS n_masked,
           CAST(sum(CASE WHEN masked = 1 THEN blk_toks ELSE 0 END)
             AS BIGINT) AS masked_tokens,
           CAST(coalesce(min(CASE WHEN masked = 1 THEN blk END), -1)
             AS BIGINT) AS first_masked_block
    FROM m GROUP BY doc_id ORDER BY doc_id
"""

_SPANCORR_DUCK_SQL = f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_DUCK_TOKS}) AS BIGINT) AS n
      FROM documents),
    b AS (SELECT doc_id, n, (n + {_SPANCORR_BLOCK - 1}) // {_SPANCORR_BLOCK}
                   AS n_blocks
          FROM d),
    x AS (SELECT doc_id, n, n_blocks,
                 unnest(generate_series(CAST(0 AS BIGINT), n_blocks - 1))
                   AS blk
          FROM b WHERE n_blocks > 0),
    m AS (
      SELECT doc_id, n_blocks, blk,
             CASE WHEN CAST(('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || '|'
                        || CAST(blk AS VARCHAR)), 1, 8)) AS BIGINT)
                       % {_SPANCORR_MOD} = 0
                  THEN 1 ELSE 0 END AS masked,
             CASE WHEN blk = n_blocks - 1 THEN n - {_SPANCORR_BLOCK} * blk
                  ELSE CAST({_SPANCORR_BLOCK} AS BIGINT) END AS blk_toks
      FROM x)
    SELECT doc_id, CAST(max(n_blocks) AS BIGINT) AS n_blocks,
           CAST(sum(masked) AS BIGINT) AS n_masked,
           CAST(sum(CASE WHEN masked = 1 THEN blk_toks ELSE 0 END)
             AS BIGINT) AS masked_tokens,
           CAST(coalesce(min(CASE WHEN masked = 1 THEN blk END), -1)
             AS BIGINT) AS first_masked_block
    FROM m GROUP BY doc_id ORDER BY doc_id
"""


@register("op_span_corruption", oracle=_SPANCORR_DUCK_SQL, tags=("llm",))
def op_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption planning (the T5 / UL2 denoising objective's
    data-prep step): each document's token stream is tiled into
    32-token blocks and a deterministic ≈20 % of blocks are selected
    for masking — md5(doc_id|block) mod 5 — reporting per document the
    block count, masked-block count, masked-TOKEN count (the last
    block contributes only its real tokens), and the first masked
    block. The point of doing this in the ENGINE rather than the
    training loader: the plan is reproducible across epochs/engines,
    auditable (sum(masked_tokens)/sum(tokens) is the realized
    corruption rate), and joinable against quality/dedup metadata
    before any GPU-side work.

    Determinism: the md5-hex-prefix idiom (the split/shuffle family's
    salt-free variant — the block id is the salt), exact integer block
    arithmetic; ceil via (n + 31) div 32 on both engines (// is
    DuckDB's integer division — the bare-CAST rounding trap). The
    explode is guarded WHERE n_blocks > 0 in BOTH twins: on a 0-token
    document Spark's sequence(0, -1) emits a descending [0, -1] while
    DuckDB's generate_series(0, -1) is empty (r10 ADVICE), so the
    empty-doc arm is total by construction, not by tokenizer accident
    (a 0-block doc simply contributes no output row).

    Scale: one narrow projection → a sequence explode bounded by
    n/32 rows per doc (output grain ~3 % of token grain) → one
    two-phase doc-keyed aggregate. No joins, no windows; the explode
    is map-side (Generate) and combines back immediately."""
    return Q(spark, sf_dir, _SPANCORR_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_integer_surprisal — corpus-LM document information score (r11)
# ---------------------------------------------------------------------------

def _surprisal_sql(explode_expr: str, bits_expr: str) -> str:
    """Twins differ in the split/explode spellings and the ⌊log2⌋
    idiom (binary-string length — the repo's no-ln rule: length(bin(x))
    on Spark, length(format('{:b}', x)) on DuckDB; log2 the float
    function is NOT bit-stable across engines)."""
    return f"""
    WITH t AS (
      SELECT doc_id, {explode_expr} AS tok FROM documents),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM t GROUP BY tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
    s AS (
      SELECT t.doc_id,
             CAST({bits_expr.format(x="(SELECT total FROM n)")}
                  - {bits_expr.format(x="df.ct")} AS BIGINT) AS sbits
      FROM t JOIN df ON df.tok = t.tok),
    a AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(sbits) AS BIGINT) AS surprisal_bits,
             CAST(max(sbits) AS BIGINT) AS max_token_bits
      FROM s GROUP BY doc_id)
    SELECT doc_id, n_tokens, surprisal_bits, max_token_bits,
           CAST(floor(1000.0 * surprisal_bits / n_tokens) AS BIGINT)
             AS bits_per_token_milli
    FROM a ORDER BY doc_id
"""


_SURPRISAL_SPARK_SQL = _surprisal_sql(
    f"explode({_SPARK_TOKS})", "length(bin({x}))")
_SURPRISAL_DUCK_SQL = _surprisal_sql(
    f"unnest({_DUCK_TOKS})",
    "length(format('{{:b}}', {x}))")


@register("op_integer_surprisal", oracle=_SURPRISAL_DUCK_SQL,
          tags=("llm",))
def op_integer_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer surprisal under the corpus's own unigram LM: each token
    occurrence scores ⌊log2 N⌋ − ⌊log2 count(token)⌋ bits (N = total
    corpus occurrences) — rare tokens carry many bits, stopwords ~0 —
    summed per document and normalized to bits/token. This is the
    integer-exact skeleton of the CCNet/Gopher "LM perplexity" quality
    signal (low bits/token ≈ repetitive boilerplate, implausibly high
    ≈ noise/garbage), computable without floats because only the
    EXPONENT of each probability is kept — and therefore
    hash-verifiable cross-engine where a float log-prob never would
    be. `op_quality_filter` gates on surface stats; this adds the
    distribution-aware signal at the same determinism bar.

    Determinism: ⌊log2⌋ via binary-string length (the repo's no-ln
    rule — bits(x) = length(bin(x)) = ⌊log2 x⌋ + 1, so the +1s cancel
    in the difference), exact BIGINT sums, floor-milli normalize.
    max_token_bits surfaces each doc's rarest token (its novelty
    spike) — on the fixture's near-uniform synthetic vocab this is
    the column that separates docs carrying the one rare token from
    the rest (the fixture-fit note: real corpora are Zipfian and the
    per-doc spread is wide).

    Scale: token explode → two-phase count (map-side combine eats the
    Zipf head); the count-back join is token-keyed with a key-UNIQUE
    build side (the vocab table), so AQE's skew split handles the hot
    stopword buckets — and since bits(ct) ≤ 63 the joined payload is
    one BIGINT, not the count table. Doc-grain two-phase rollup ends
    it. The corpus total enters as a one-row scalar subquery
    (broadcast, not a shuffle)."""
    return Q(spark, sf_dir, _SURPRISAL_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_truncation_loss — context-length truncation audit (r11)
# ---------------------------------------------------------------------------

#: candidate context lengths (tokens). Fixture docs span 10–99
#: tokens, so every arm is live: 16 truncates most docs, 96 only the
#: longest tail (the fixture-fit rule — an all-zero loss arm would
#: pin nothing).
_TRUNC_LENS = (16, 48, 96)


def _trunc_sql(size_expr: str, lens_expr: str) -> str:
    """Twins differ in the token-size spelling and the literal-array
    explode (a VALUES cross join would plan the banned
    BroadcastNestedLoopJoin; the explode is a map-side Generate)."""
    return f"""
    WITH d AS (
      SELECT source, CAST({size_expr} AS BIGINT) AS n,
             {lens_expr} AS trunc_len
      FROM documents),
    a AS (
      SELECT source, CAST(trunc_len AS BIGINT) AS trunc_len,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n > trunc_len THEN 1 ELSE 0 END)
               AS BIGINT) AS n_truncated,
             CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(least(n, trunc_len)) AS BIGINT) AS kept_tokens
      FROM d GROUP BY source, trunc_len)
    SELECT source, trunc_len, n_docs, n_truncated, total_tokens,
           kept_tokens,
           CAST(floor(1000000.0 * (total_tokens - kept_tokens)
                      / total_tokens) AS BIGINT) AS loss_ppm
    FROM a ORDER BY source, trunc_len
"""


_TRUNC_SPARK_SQL = _trunc_sql(
    f"size({_SPARK_TOKS})",
    "explode(array(" + ", ".join(map(str, _TRUNC_LENS)) + "))")
_TRUNC_DUCK_SQL = _trunc_sql(
    f"len({_DUCK_TOKS})",
    "unnest([" + ", ".join(map(str, _TRUNC_LENS)) + "])")


@register("op_truncation_loss", oracle=_TRUNC_DUCK_SQL, tags=("llm",))
def op_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation audit: per source, for each candidate
    context length, how many documents would be cut and what fraction
    of the corpus's tokens a hard truncation throws away — the
    measurement behind the truncate-vs-chunk-vs-pack decision
    (`op_doc_chunk` and `op_seq_pack` are the remedies; this prices
    the do-nothing baseline). A source losing 30 % of its tokens at
    the chosen length is being silently re-weighted toward short
    documents — the bias this table makes visible before training.

    Determinism: exact integer token counts, least() on BIGINTs, one
    floor-ppm per cell.

    Scale: doc-grain narrow projection (token COUNT only — the text
    itself is never exploded), the candidate lengths exploding from a
    LITERAL array map-side (a Generate node, no join), one two-phase
    (source, len) aggregate — |sources|·|lens| output rows, single
    corpus scan."""
    return Q(spark, sf_dir, _TRUNC_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_edit_distance_verify — exact edit-distance rerank of blocked pairs (r11)
# ---------------------------------------------------------------------------

def _editdist_sql(pfx_expr: str) -> str:
    """Twins differ in the prefix-slice spelling only; levenshtein()
    is the same exact-integer function on both engines."""
    return f"""
    WITH p AS (
      SELECT doc_id, text, {pfx_expr} AS pfx FROM documents),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             levenshtein(a.text, b.text) AS edit_dist,
             greatest(length(a.text), length(b.text)) AS max_len
      FROM p a JOIN p b ON a.pfx = b.pfx AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist,
           CAST(max_len AS BIGINT) AS max_len,
           CAST(1000000 - floor(1000000.0 * edit_dist / max_len)
             AS BIGINT) AS sim_ppm,
           edit_dist * 100 <= max_len AS is_near_dup
    FROM pairs WHERE max_len > 0 ORDER BY doc_a, doc_b
"""


_EDITDIST_SPARK_SQL = _editdist_sql(
    f"array_join(slice({_SPARK_TOKS}, 1, 8), ' ')")
_EDITDIST_DUCK_SQL = _editdist_sql(
    f"array_to_string(list_slice({_DUCK_TOKS}, 1, 8), ' ')")


@register("op_edit_distance_verify", oracle=_EDITDIST_DUCK_SQL,
          tags=("llm",))
def op_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance verification of blocked candidate pairs:
    documents sharing an 8-token prefix (the `dedup_prefix` blocking
    key — boilerplate-header near-dups) are reranked with full
    Levenshtein distance and flagged near-dup at ≤1 % of the longer
    text (calibrated so BOTH flag arms are live on the fixture's
    prefix families — the fixture-fit rule) — the CHARACTER-exact verify stage the shingle/minhash/simhash
    family approximates (Jaccard is order-blind and misses small
    in-place edits; edit distance is the ground truth those sketches
    estimate). The dedup ladder ends here: block cheaply, verify
    exactly, ONLY on candidates.

    Determinism: levenshtein is the same exact integer DP on both
    engines; the near-dup flag is an integer cross-multiply (no
    division), sim_ppm one floor divide — guarded WHERE max_len > 0
    in the shared twin, so a pair of EMPTY documents (0/0: Spark NULL
    vs DuckDB NaN-cast error) is total by construction, the
    span-corruption n_blocks pattern.

    Scale: the O(|a|·|b|) DP runs ONLY on blocked pairs (25 at
    sf0.01, linear in corpus under the prefix-blocking bound — each
    block is a boilerplate family, not a hash bucket that Zipf can
    explode, and the `op_ngram_stats`-style block-size audit applies
    if one family dominates); the blocking join is an equi-join on
    the prefix string. An unblocked all-pairs levenshtein would be
    O(n²·L²) — the textbook anti-plan this key exists to contrast."""
    return Q(spark, sf_dir, _EDITDIST_SPARK_SQL)


# ---------------------------------------------------------------------------
# op_zipf_fit — frequency-spectrum power-law slope (r11 batch 5)
# ---------------------------------------------------------------------------

def _zipf_sql(explode_expr: str, bits_expr: str) -> str:
    """Rank-FREE Zipf diagnostics: bin tokens by ⌊log2 freq⌋ and
    regress ⌊log2 #tokens-in-bin⌋ on the bin index — for a Zipf(1)
    vocabulary the frequency spectrum N(f) ∝ f⁻² gives slope ≈ −2.
    No global rank sort anywhere (a rank-based fit needs row_number
    over the whole vocabulary — the single-task sort this spelling
    exists to avoid)."""
    return f"""
    WITH t AS (
      SELECT {explode_expr} AS tok FROM documents),
    df AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM t GROUP BY tok),
    b AS (
      SELECT CAST({bits_expr.format(x="ct")} - 1 AS BIGINT) AS fbin,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(ct) AS BIGINT) AS bin_occurrences
      FROM df GROUP BY {bits_expr.format(x="ct")} - 1),
    r AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_tokens) AS BIGINT) AS vocab,
             CAST(sum(bin_occurrences) AS BIGINT) AS total_tokens,
             CAST(sum(fbin) AS BIGINT) AS sx,
             CAST(sum({bits_expr.format(x="n_tokens")} - 1) AS BIGINT)
               AS sy,
             CAST(sum(CAST(fbin AS DECIMAL(38, 0))
                      * ({bits_expr.format(x="n_tokens")} - 1))
               AS DOUBLE) AS sxy,
             CAST(sum(CAST(fbin AS DECIMAL(38, 0)) * fbin) AS DOUBLE)
               AS sxx
      FROM b)
    SELECT n AS n_freq_bins, vocab, total_tokens,
           CAST(CASE WHEN n * sxx - 1.0 * sx * sx = 0 THEN NULL
                     ELSE floor(1000.0 * (n * sxy - 1.0 * sx * sy)
                                / (n * sxx - 1.0 * sx * sx)) END
             AS BIGINT) AS spectrum_slope_milli
    FROM r
"""


_ZIPF_SPARK_SQL = _zipf_sql(f"explode({_SPARK_TOKS})",
                            "length(bin({x}))")
_ZIPF_DUCK_SQL = _zipf_sql(f"unnest({_DUCK_TOKS})",
                           "length(format('{{:b}}', {x}))")


@register("op_zipf_fit", oracle=_ZIPF_DUCK_SQL, tags=("llm",))
def op_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-ness of the corpus vocabulary: the log-log slope of the
    FREQUENCY SPECTRUM (#tokens at each ⌊log2 freq⌋ octave) — ≈ −2
    for natural Zipf(1) text, ≈ 0 for this fixture's deliberately
    near-uniform synthetic vocabulary, strongly negative for
    boilerplate-heavy crawls — the one-number sanity check that a
    corpus's token distribution looks like language BEFORE training
    on it (`op_vocab_topk` shows the head; this scores the whole
    shape; `op_integer_surprisal` consumes the same counts per doc).

    Determinism: ⌊log2⌋ via the binary-string-length idiom on BOTH
    axes (never float log), integer octave bins, the regression as
    exact integer moments through one shared IEEE tail (the
    `agg_corr` contract); degenerate single-bin spectra yield NULL
    slope rather than a 0/0.

    Scale: token explode → two-phase vocab count (map-side combine
    eats the Zipf head) → ≤63-row octave bins → a one-row regression,
    with vocab and total_tokens CARRIED THROUGH the same chain
    (scalar subqueries on t/df would re-run the explode and the vocab
    aggregate per reference — the merkle n_leaves lesson, review
    pass 3). NO rank, NO global sort — the rank-frequency spelling
    needs row_number over the entire vocabulary (single-task at 1e9
    tokens); the spectrum spelling is two hash aggregates."""
    return Q(spark, sf_dir, _ZIPF_SPARK_SQL)
