"""Semantic properties of the corpus-shaping pipeline ops (beyond the
oracle hash parity that tests/test_oracle_parity.py already enforces)."""

from __future__ import annotations

from pyspark.sql import functions as F

from blockchain_data_ingestion_spark.queries import load_all
from blockchain_data_ingestion_spark.queries.llm_pipeline import (
    _CHUNK_S, _CHUNK_W, _PACK_L)


def _q(spark, sf_dir, key):
    return load_all()[key].spark(spark, sf_dir)


def test_seq_pack_partitions_every_token_exactly_once(spark, sf_dir):
    """The packing manifest must cover each document's tokens exactly
    once (no token lost at a sequence boundary, none duplicated) and
    fill every sequence except the last to exactly L tokens."""
    spans = _q(spark, sf_dir, "op_seq_pack").cache()
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id",
                        "size(split(text, ' ')) AS n_toks_expected"))
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("n_toks").alias("covered"),
        # spans within a doc must tile [0, n): min start 0, no overlap
        F.min("doc_tok_start").alias("first_start"),
        F.count("*").alias("n_spans"))
    joined = per_doc.join(docs, "doc_id")
    assert joined.filter("covered != n_toks_expected").count() == 0
    assert joined.filter("first_start != 0").count() == 0

    seq_fill = spans.groupBy("seq_id").agg(F.sum("n_toks").alias("fill"))
    last_seq = seq_fill.agg(F.max("seq_id")).collect()[0][0]
    assert seq_fill.filter(
        (F.col("seq_id") != last_seq) & (F.col("fill") != _PACK_L)
    ).count() == 0
    spans.unpersist()


def test_doc_chunk_covers_and_overlaps(spark, sf_dir):
    """Chunks tile each doc at the configured stride: chunk i holds
    min(W, n - i*S) tokens, consecutive chunks overlap by W - S, and the
    union covers every token."""
    chunks = _q(spark, sf_dir, "op_doc_chunk").cache()
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "size(split(text, ' ')) AS n"))
    g = chunks.groupBy("doc_id").agg(
        F.max(F.col("chunk_id") * _CHUNK_S + F.col("n_toks")).alias("covered"),
        F.count("*").alias("n_chunks"))
    j = g.join(docs, "doc_id")
    # last chunk's end reaches n exactly (slice clamps, never exceeds)
    assert j.filter("covered != n").count() == 0
    # every doc yields at least one chunk; short docs exactly one
    assert j.filter("n_chunks < 1").count() == 0
    assert j.filter(f"n <= {_CHUNK_W} AND n_chunks != 1").count() == 0
    # chunk text token count matches the claimed n_toks
    assert chunks.filter(
        F.expr("size(split(chunk_text, ' ')) != n_toks")).count() == 0
    chunks.unpersist()


def test_quality_filter_keep_iff_no_reasons(spark, sf_dir):
    qf = _q(spark, sf_dir, "op_quality_filter").cache()
    assert qf.filter("keep AND fail_reasons != ''").count() == 0
    assert qf.filter("NOT keep AND fail_reasons = ''").count() == 0
    # the gate must do real work on the fixture: both outcomes present
    kept = qf.filter("keep").count()
    assert 0 < kept < qf.count()
    qf.unpersist()


def test_dedup_clusters_canonical_is_member_and_minimal(spark, sf_dir):
    """cluster_id is the minimum doc_id of the component — so it must
    (a) never exceed its member's id, and (b) itself be a clustered doc
    whose cluster_id is itself (root property)."""
    labels = _q(spark, sf_dir, "dedup_clusters").cache()
    assert labels.filter("cluster_id > doc_id").count() == 0
    roots = labels.select(F.col("cluster_id").alias("doc_id")).distinct()
    self_rooted = labels.join(roots, "doc_id") \
        .filter("cluster_id != doc_id").count()
    assert self_rooted == 0
    labels.unpersist()


def test_mixture_sample_respects_stratum_rates(spark, sf_dir):
    """100%-rate strata keep every document; the down-weighted stratum
    keeps a strict, non-empty subset."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _MIX_RATES)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sample = _q(spark, sf_dir, "op_mixture_sample").cache()
    for lang, rate in _MIX_RATES.items():
        total = docs.filter(F.col("lang") == lang).count()
        kept = sample.filter(F.col("lang") == lang).count()
        if rate == 100:
            assert kept == total, lang
        else:
            assert 0 < kept < total, (lang, kept, total)
    sample.unpersist()


def test_dedup_apply_drops_exactly_nonroot_members(spark, sf_dir):
    labels = _q(spark, sf_dir, "dedup_clusters").cache()
    retained = _q(spark, sf_dir, "dedup_apply").cache()
    corpus_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    dropped_expected = labels.filter("doc_id != cluster_id").count()
    assert retained.count() == corpus_n - dropped_expected
    # no dropped doc survives; every cluster root survives
    assert retained.join(
        labels.filter("doc_id != cluster_id"), "doc_id").count() == 0
    roots = labels.select(F.col("cluster_id").alias("doc_id")).distinct()
    assert retained.join(roots, "doc_id").count() == roots.count()
    labels.unpersist()
    retained.unpersist()


def test_ivf_search_self_recall(spark, sf_dir):
    """Queries are corpus members, and a query's nearest cell is its own
    assigned cell (always probed at nprobe >= 1) — so every query must
    find itself at rank 1 with distance 0."""
    from blockchain_data_ingestion_spark.queries.llm_vec import _IVFS_NQ
    res = _q(spark, sf_dir, "op_ann_ivf_search").cache()
    top1 = res.filter("rank = 1")
    assert top1.count() == _IVFS_NQ
    assert top1.filter("query_id != vec_id OR dist_scaled != 0").count() == 0
    # each query returns a full top-k slate with strictly ordered ranks
    from blockchain_data_ingestion_spark.queries.llm_vec import _IVFS_TOPK
    per_q = res.groupBy("query_id").count()
    assert per_q.filter(f"count != {_IVFS_TOPK}").count() == 0
    res.unpersist()


def test_pipeline_e2e_consistent_with_stages(spark, sf_dir):
    """Every document in the e2e manifest must individually pass each
    composed stage: outside the benchmark slice, quality-kept, not a
    dropped dup member, not contaminated, mixture-sampled — and the
    manifest must be non-trivial (some docs survive, some don't)."""
    manifest = _q(spark, sf_dir, "op_pipeline_e2e").cache()
    docs_in = manifest.select("doc_id").distinct()
    n_kept = docs_in.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert 0 < n_kept < docs.filter("source <> 'src0'").count()
    assert docs_in.join(docs.filter("source = 'src0'"), "doc_id") \
        .count() == 0
    qf = _q(spark, sf_dir, "op_quality_filter").filter("NOT keep")
    assert docs_in.join(qf, "doc_id").count() == 0
    dropped = _q(spark, sf_dir, "dedup_clusters") \
        .filter("doc_id != cluster_id")
    assert docs_in.join(dropped, "doc_id").count() == 0
    contaminated = _q(spark, sf_dir, "op_decontaminate")
    assert docs_in.join(contaminated, "doc_id").count() == 0
    sampled = _q(spark, sf_dir, "op_mixture_sample")
    assert docs_in.join(sampled, "doc_id").count() == n_kept
    manifest.unpersist()


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe's candidate set is a superset of single-probe's (own
    bucket is always probed), so per query its best-cosine hit must be
    at least as good, and it must never return fewer neighbors."""
    single = _q(spark, sf_dir, "op_similarity_lsh") \
        .groupBy("query_id").agg(F.max("cosine").alias("best_s"),
                                 F.count("*").alias("n_s"))
    multi = _q(spark, sf_dir, "op_similarity_lsh_multiprobe") \
        .groupBy("query_id").agg(F.max("cosine").alias("best_m"),
                                 F.count("*").alias("n_m"))
    j = single.join(multi, "query_id")
    assert j.count() > 0
    assert j.filter("best_m < best_s OR n_m < n_s").count() == 0


def test_decontaminate_flags_real_overlap(spark, sf_dir):
    """The fixture's planted near-dups span sources, so the benchmark
    slice must contaminate a non-trivial, strict subset of the corpus."""
    hits = _q(spark, sf_dir, "op_decontaminate")
    corpus_n = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .filter("source <> 'src0'").count())
    n = hits.count()
    assert 0 < n < corpus_n
    assert hits.filter("n_hit_ngrams <= 0").count() == 0


# ---------------------------------------------------------------------------
# round-4 additions: DF cap, deep-graph clustering, total kernels
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    """Write a synthetic documents.parquet (fixture schema) and return
    the sf_dir path."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    (tmp_path / "documents.parquet").parent.mkdir(parents=True,
                                                  exist_ok=True)
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_ngram_df_cap_bounds_hot_shingle_candidates(spark, tmp_path):
    """Plant one boilerplate shingle across MORE docs than the DF cap:
    the capped inverted index must drop it (candidate joins bounded),
    while a genuine near-dup pair built from RARE shingles is still
    found — and the capped query still hash-matches its DuckDB twin on
    this adversarial corpus."""
    from .oracle import spill_connect

    from blockchain_data_ingestion_spark.queries.llm_text import (
        _NGRAM_DF_CAP, _SPARK_SHINGLES, _SPARK_TOKS)

    from .oracle import compare_frames

    n_hot = _NGRAM_DF_CAP + 22
    rows = [(i, f"u{i} v{i} w{i} all rights reserved", "en", "srcX")
            for i in range(n_hot)]
    rows.append((10_000, "alpha beta gamma delta epsilon zeta eta theta "
                         "iota kappa", "en", "srcX"))
    rows.append((10_001, "alpha beta gamma delta epsilon zeta eta theta "
                         "iota lambda", "en", "srcX"))
    sf = _write_docs(tmp_path, rows)

    spec = load_all()["dedup_ngram_jaccard"]

    # The planted shingle exceeds the cap and lands in the hot set.
    sh = (spark.read.parquet(f"{sf}/documents.parquet")
          .withColumn("toks", F.expr(_SPARK_TOKS))
          .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("s")))
    hot = (sh.groupBy("s").count()
             .filter(F.col("count") > _NGRAM_DF_CAP))
    assert [r["s"] for r in hot.collect()] == ["all rights reserved"]

    # Candidate pairs from the capped index are BOUNDED: only the one
    # planted near-dup pair meets (the uncapped index would grid the
    # n_hot boilerplate docs into n_hot*(n_hot-1)/2 candidates).
    idx = sh.join(hot.select("s"), "s", "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    n_cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
               .select("a.doc_id", "b.doc_id").distinct().count())
    assert n_cand == 1
    uncapped = (sh.alias("a").join(
        sh.alias("b"), (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count())
    assert uncapped > n_hot * (n_hot - 1) // 2  # the bucket the cap kills

    # Recall on rare-shingle near-dups is untouched, and the capped
    # semantics are value-identical across engines.
    result = spec.spark(spark, sf).toPandas()
    assert (sorted(zip(result["doc_a"], result["doc_b"]))
            == [(10_000, 10_001)])
    con = spill_connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    oracle = con.execute(spec.oracle).fetchdf()
    con.close()
    assert compare_frames(result, oracle) is None


def test_cc_labels_converges_on_deep_chain(spark):
    """A 200-hop near-dup chain (diameter far beyond the old
    one-hop-per-round ceiling of 16) must converge to ONE cluster —
    the pointer-doubling shortcut makes rounds O(log diameter)."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _cc_labels)

    n = 201
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    labels = _cc_labels(pairs).toPandas()
    assert len(labels) == n
    assert set(labels["cluster_id"]) == {0}


def test_dedup_clusters_pluggable_edge_source(spark, sf_dir):
    """dedup_clusters accepts any (doc_a, doc_b) edge DataFrame; with
    MinHash-LSH pairs the labels must agree with the n-gram default on
    every doc the two candidate generators both cover (both verify
    exact Jaccard >= 0.5 — only candidate RECALL may differ)."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        dedup_clusters)

    mh = _q(spark, sf_dir, "op_minhash_dedup").select("doc_a", "doc_b")
    via_mh = dedup_clusters(spark, sf_dir, pairs=mh)
    default = _q(spark, sf_dir, "dedup_clusters")
    both = (via_mh.alias("m").join(default.alias("d"), "doc_id")
            .filter("m.cluster_id != d.cluster_id"))
    assert via_mh.count() > 0
    assert both.count() == 0


def test_kgrams_total_on_short_docs(spark):
    """Docs shorter than k tokens yield an EMPTY shingle list on both
    engines (Spark's raw sequence(1, 0) grid would be a descending
    [1, 0] and raise in slice())."""
    from .oracle import spill_connect

    from blockchain_data_ingestion_spark.queries.llm_text import (
        _duck_kgrams, _spark_kgrams)

    texts = ["a", "a b", "a b c d e", "a b c d e f"]
    sdf = (spark.createDataFrame([(t,) for t in texts], ["text"])
           .selectExpr("split(text, ' ') AS toks")
           .selectExpr(f"{_spark_kgrams(5)} AS g"))
    got = [sorted(r["g"]) for r in sdf.collect()]
    duck = spill_connect()
    want = [sorted(duck.execute(
        f"SELECT {_duck_kgrams(5)} FROM "
        f"(SELECT string_split(?, ' ') AS toks)", [t]).fetchone()[0])
        for t in texts]
    duck.close()
    assert got == want
    assert got[0] == [] and got[1] == []
    assert got[3] == ["a b c d e", "b c d e f"]


def test_pack_spans_skips_empty_docs(spark):
    """A zero-token doc contributes 0 to the prefix sum and yields NO
    spans (DuckDB's generate_series emits nothing for n=0; the Spark
    kernel must not emit a bogus descending 2-span grid)."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _pack_spans)

    d = spark.createDataFrame([(0, 5), (1, 0), (2, 3)],
                              "doc_id long, n long")
    spans = _pack_spans(d).toPandas()
    assert set(spans["doc_id"]) == {0, 2}
    assert spans["n_toks"].sum() == 8
    doc2 = spans[spans["doc_id"] == 2].iloc[0]
    assert doc2["seq_tok_start"] == 5 and doc2["n_toks"] == 3


def test_bucket_bases_depth_invariant(spark):
    """The k-level prefix-sum scan must be exact at every depth: at a
    synthetic bucket count large enough that THREE levels are live
    (> B² = 4096 buckets → the top recursion actually recurses twice),
    the 3-level bases equal both the flat 1-level window and a
    driver-side running sum. Sparse doc_ids on purpose — bucket count
    follows the id DOMAIN, not the row count, and the scan must not
    assume dense buckets."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _PACK_B, _bucket_bases)

    d = (spark.range(0, 300_000, 37)
              .selectExpr("id AS doc_id",
                          "(id % 97) + 1 AS n",
                          f"id div {_PACK_B} AS bkt"))
    totals = d.groupBy("bkt").agg(F.sum("n").alias("bn"))
    assert totals.count() > _PACK_B * _PACK_B  # three live levels
    flat = {r["bkt"]: r["base"]
            for r in _bucket_bases(totals, 1).collect()}
    deep = {r["bkt"]: r["base"]
            for r in _bucket_bases(totals, 3).collect()}
    assert deep == flat
    # cross-check one exclusive running sum on the driver
    rows = sorted((r["bkt"], r["bn"]) for r in totals.collect())
    acc, expect = 0, {}
    for bkt, bn in rows:
        expect[bkt] = acc
        acc += bn
    assert deep == expect


def test_pack_levels_threshold_rule(spark, sf_dir):
    """Depth selection: toy corpora must stay at depth 1 (the always-on
    deep scan cost +0.5 s of pure stage tax at sf0.1), each 64× growth
    past the 4M-row serial-window cap must add exactly one level, and
    the fixture input must actually resolve depth 1 through the real
    Catalyst-stats path."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _PACK_B, _PACK_FLAT_MAX, _SPARK_TOKS, _levels_for_size,
        _pack_levels)

    flat_bytes = _PACK_FLAT_MAX * _PACK_B * 8  # top window exactly at cap
    assert _levels_for_size(0) == 1
    assert _levels_for_size(flat_bytes) == 1
    assert _levels_for_size(flat_bytes * _PACK_B) == 2
    assert _levels_for_size(flat_bytes * _PACK_B ** 2) == 3
    assert _levels_for_size(flat_bytes * _PACK_B ** 5) == 4  # capped
    d = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .selectExpr("doc_id", f"size({_SPARK_TOKS}) AS n"))
    assert _pack_levels(d) == 1


def test_pack_segments_tile_each_sequence(spark, sf_dir):
    """Per-sequence segments must tile [0, n_toks): sorted starts are
    the running sum of lengths (no gap, no overlap), and totals agree
    with the packing manifest."""
    segs = _q(spark, sf_dir, "op_pack_segments").toPandas()
    spans = _q(spark, sf_dir, "op_seq_pack").toPandas()
    by_seq = spans.groupby("seq_id").agg(n=("n_toks", "sum"),
                                         k=("n_toks", "count"))
    assert len(segs) == len(by_seq)
    for _, row in segs.iterrows():
        want = by_seq.loc[row["seq_id"]]
        assert row["n_toks"] == want["n"] and row["n_segments"] == want["k"]
        pos = 0
        for part in row["segments"].split(";"):
            _doc, start, ln = (int(x) for x in part.split(":"))
            assert start == pos
            pos += ln
        assert pos == row["n_toks"]


def test_ngram_stats_matches_cap_premise(spark, sf_dir):
    """The DF report's maximum must sit below `_NGRAM_DF_CAP` on the
    fixture (the premise that the cap drops nothing at test scale), and
    frequencies must be positive and non-increasing."""
    from blockchain_data_ingestion_spark.queries.llm_text import (
        _NGRAM_DF_CAP)

    df = _q(spark, sf_dir, "op_ngram_stats").toPandas()
    assert 0 < len(df) <= 100
    freqs = list(df["doc_freq"])
    assert freqs == sorted(freqs, reverse=True)
    assert freqs[0] <= _NGRAM_DF_CAP
    assert freqs[-1] >= 1


def test_cc_labels_matches_union_find_on_random_graphs(spark):
    """The shortcutted fixpoint must agree with a reference union-find
    on arbitrary topologies — rings, stars, chains, disjoint blobs —
    not just the planted fixture pairs (the pointer-doubling step must
    never jump labels across components)."""
    import random

    def union_find_labels(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = {}
        for v in range(n):
            roots.setdefault(find(v), []).append(v)
        return {v: min(vs) for r, vs in roots.items() for v in vs}

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = {tuple(sorted(rng.sample(range(n), 2)))
                 for _ in range(n)}
        # add a ring and a star to force cycles + high-degree hubs
        edges |= {(i, (i + 1) % 10) for i in range(9)}
        edges |= {(20, 20 + i) for i in range(1, 8)}
        edges = sorted((min(a, b), max(a, b)) for a, b in edges)

        from blockchain_data_ingestion_spark.queries.llm_pipeline import (
            _cc_labels)

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.cluster_id for r in _cc_labels(pairs).collect()}
        want = union_find_labels(n, edges)
        touched = {v for e in edges for v in e}
        assert got == {v: want[v] for v in touched}, f"trial {trial}"


def test_dup_report_accounts_for_every_document(spark, sf_dir):
    """Histogram mass must equal the corpus: sum(n_docs) == |documents|,
    singletons dominate the fixture, and the size->count map must agree
    with a direct recount from the cluster labels."""
    rep = _q(spark, sf_dir, "op_dup_report").toPandas()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert rep["n_docs"].sum() == n_docs
    assert (rep["n_docs"] == rep["cluster_size"] * rep["n_clusters"]).all()
    labels = _q(spark, sf_dir, "dedup_clusters").toPandas()
    clustered = labels.groupby("cluster_id").size()
    multi = {int(s): int(c) for s, c in
             clustered.value_counts().items() if s > 1}
    got_multi = {int(r["cluster_size"]): int(r["n_clusters"])
                 for _, r in rep.iterrows() if r["cluster_size"] > 1}
    assert got_multi == multi


def test_cc_labels_empty_graph(spark):
    """No near-dup pairs → an empty label table (and no crash in the
    fixpoint/convergence machinery on zero-row state)."""
    from blockchain_data_ingestion_spark.queries.llm_pipeline import (
        _cc_labels)

    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert _cc_labels(pairs).count() == 0


def test_release_checkpoint_actually_unpersists(spark):
    """`release_checkpoint` reaches a PRIVATE path
    (`df._jdf.queryExecution().analyzed().rdd()`, freed through
    `SparkContext.unpersistRDD`) behind a broad try/except — a Spark
    upgrade can break the call silently and the fixpoint loops
    (dedup_clusters, op_kcore, PageRank) would start accumulating
    superseded round state (r8 VERDICT #6). This pins the behavior:
    after localCheckpoint the backing blocks are registered with the
    block manager; after release_checkpoint they are gone, and so is
    the RDD's persistent-RDD entry."""
    from blockchain_data_ingestion_spark.caching import release_checkpoint

    df = spark.range(1000).selectExpr("id", "id * 2 AS v").localCheckpoint()
    df.count()

    def n_cached_rdds():
        jsc = spark.sparkContext._jsc.sc()
        pm = jsc.getRDDStorageInfo()
        return len([r for r in pm if r.numCachedPartitions() > 0])

    before = n_cached_rdds()
    assert before >= 1, "localCheckpoint left nothing in storage — " \
        "the premise of release_checkpoint changed"
    release_checkpoint(df)
    # unpersist(blocking=False) is async; poll briefly
    import time
    for _ in range(50):
        if n_cached_rdds() < before:
            break
        time.sleep(0.1)
    assert n_cached_rdds() < before, (
        "release_checkpoint no longer frees the checkpoint blocks — "
        "the private analyzed().rdd() path has broken")
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id not in dict(spark.sparkContext._jsc.getPersistentRDDs())


def test_token_budget_split_matches_greedy_reference(spark, sf_dir):
    """op_token_budget_split vs a pure-python greedy over the same
    md5 order: per source, walking docs in (md5(doc_id|salt), doc_id)
    order and taking every doc while 2·cumsum ≤ total must reproduce
    the engine's n_selected / selected_toks exactly — and the cut must
    be PREFIX-MONOTONE (the docstring's incremental-build property:
    a larger budget only ADDS documents), checked by verifying the
    selected set at half-budget is a prefix of the hash order."""
    import hashlib

    from .oracle import spill_connect

    from blockchain_data_ingestion_spark.queries import load_all

    got = {r["source"]: r for r in
           load_all()["op_token_budget_split"].spark(spark, sf_dir)
           .collect()}  # driver-ok: |sources| rows

    con = spill_connect()
    docs = con.execute(
        f"SELECT source, doc_id, len(string_split(text, ' ')) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')").fetchall()
    con.close()
    by_src: dict[str, list[tuple[str, int, int]]] = {}
    for src, did, toks in docs:
        hk = hashlib.md5(f"{did}|budget-v1".encode()).hexdigest()
        by_src.setdefault(src, []).append((hk, did, toks))
    for src, rows in by_src.items():
        rows.sort()
        total = sum(t for _, _, t in rows)
        cum = n_sel = sel_toks = 0
        prefix_broken = False
        for _, _, toks in rows:
            cum += toks
            if 2 * cum <= total:
                assert not prefix_broken, "selection must be a prefix"
                n_sel += 1
                sel_toks += toks
            else:
                prefix_broken = True
        g = got[src]
        assert (g["total_toks"], g["n_selected"], g["selected_toks"]) \
            == (total, n_sel, sel_toks), src


def test_span_corruption_matches_python_reference(spark, sf_dir):
    """op_span_corruption vs a pure-python re-derivation of the same
    md5 block selection: block counts, masked counts, masked-token
    accounting (last block contributes only its real tokens) and the
    first masked block must all agree — pins the hex-prefix hash idiom
    and the ceil arithmetic against an implementation that shares no
    code with either engine."""
    import hashlib

    from .oracle import spill_connect

    from blockchain_data_ingestion_spark.queries import load_all

    got = {r["doc_id"]: r for r in
           load_all()["op_span_corruption"].spark(spark, sf_dir)
           .collect()}  # driver-ok: |docs| rows at sf0.001

    con = spill_connect()
    docs = con.execute(
        f"SELECT doc_id, len(string_split(text, ' ')) "
        f"FROM read_parquet('{sf_dir}/documents.parquet')").fetchall()
    con.close()
    assert len(got) == len(docs)
    for did, n in docs:
        n_blocks = (n + 31) // 32
        masked = [b for b in range(n_blocks)
                  if int(hashlib.md5(f"{did}|{b}".encode())
                         .hexdigest()[:8], 16) % 5 == 0]
        mtoks = sum((n - 32 * b) if b == n_blocks - 1 else 32
                    for b in masked)
        g = got[did]
        assert (g["n_blocks"], g["n_masked"], g["masked_tokens"],
                g["first_masked_block"]) == \
            (n_blocks, len(masked), mtoks,
             masked[0] if masked else -1), did
