"""North-star LLM-data-pipeline queries (SURVEY.md §2.10, driver mandate).

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (brute-force + LSH ANN), text analysis, and
the multimodal manifest — over ``documents`` and ``embeddings``.

Every oracle reproduces the Spark computation bit-for-bit: hashes are
md5 (identical across engines), vector math is an in-order left fold,
window/bucket math is integer arithmetic. Parameters live here so the
SQL and the DataFrame forms can't drift apart.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from demo_apache_flink_streaming_mode_spark.operators import (
    compression, curation, dedup, ml, multimodal, scale, similarity, text)
from demo_apache_flink_streaming_mode_spark.plans.base import Query
from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

# -- parameters (shared by DataFrame + oracle forms) ----------------------
SHINGLE_N = 3
NUM_HASHES = 8
BANDS, ROWS_PER_BAND = 4, 2
JACCARD_THRESHOLD = 0.3
JACCARD_NUM, JACCARD_DEN = 3, 10   # == JACCARD_THRESHOLD as a rational
COS_DUP_THRESHOLD = 0.35
TOPK = 10
QUERY_MOD = 50          # query set = vec_id % QUERY_MOD == 0
NUM_PLANES = 6
DIM = 64
FP_SHINGLE_N = 5
SIMHASH_BITS = 16
N_CELLS = 16            # IVF coarse cells
KMEANS_ITERS = 2        # Lloyd's refinement passes for the trained codebook
IVF_NPROBE = 2          # cells searched per query in the probe2 variant
PQ_M = 4                # PQ subspaces (DIM/PQ_M dims each)
PQ_SUB_DIM = DIM // PQ_M
PQ_CODES = 16           # codes per subspace codebook
PQ_ITERS = 1            # Lloyd's refinement passes per subspace
WINNOW_N, WINNOW_W = 3, 4
BM25_TERMS = ("spark", "stream", "window")   # query bag for text_bm25
BM25_K1, BM25_B, BM25_TOPN = 1.2, 0.75, 50
DECON_SHINGLE_N = 5     # decontamination n-gram length
DECON_MOD = 20          # benchmark set = md5('bench:'||doc_id) % MOD == 0
DECON_THRESHOLD = 0.2   # contaminated if >= 20% gram overlap
TFIDF_TOPN = 3          # keywords kept per document
TOPIC_TOPN = 5          # labeling terms kept per semantic cluster
CELL_QUOTA = 8          # docs kept per semantic cell (cluster-balanced)
DSIR_BUCKETS = 4096     # hashed-bigram feature buckets (DSIR featurizer)
DSIR_TGT_MOD = 10       # target set = md5('tgt:'||doc_id) % MOD == 0
DSIR_KEEP = 8           # docs kept per source by importance rank
PROTO_DROP_TOPN = 2     # most-prototypical docs dropped per cell (D4)
MM_DIM = 8              # fake-codec feature dimension
MM_RESIZE_BYTES = 256   # resize kernel target size
MM_FRAME_BYTES, MM_EVERY_N = 1024, 4  # frame-sample kernel params


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# --- Spark queries -------------------------------------------------------

def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark, sf_dir):
    sigs = dedup.minhash_signature(_docs(spark, sf_dir), shingle_n=SHINGLE_N,
                                   num_hashes=NUM_HASHES)
    return dedup.lsh_candidate_pairs(sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND,
                                     num_hashes=NUM_HASHES)


INC_MOD = 10            # incremental batch = doc_id % INC_MOD == 0


def dedup_incremental(spark, sf_dir):
    """Increment-vs-corpus dedup — the production shape of exact
    dedup: a NEW batch (docs with doc_id % INC_MOD == 0 stand in for
    today's crawl) is checked against the accumulated corpus (the
    rest) by text hash. Each new doc classifies as dup_of_corpus
    (hash already in the corpus), dup_in_batch (fresh hash, but a
    lower-id batch doc has it first), or unique. One 16-byte-hash
    shuffle; the corpus side collapses to DISTINCT hashes before the
    join, so join input is bounded by corpus hash cardinality, not
    row count — at 100 TB the corpus leg is the persisted hash store
    a daily pipeline maintains (dedup.exact_hash_index, save/load
    round-trip proven by tests/test_index_persist.py)."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % INC_MOD == 0)
    idx = dedup.exact_hash_index(docs.filter(F.col("doc_id") % INC_MOD != 0))
    return dedup.incremental_exact(batch, idx)


def dedup_incremental_near(spark, sf_dir):
    """Increment-vs-corpus NEAR dedup: the new batch (doc_id %
    INC_MOD == 0) MinHash-probed against the standing corpus's LSH
    band index (operators.dedup.lsh_candidates_against) — the near-dup
    counterpart of dedup_incremental, and the batch twin of the
    streaming probe (streaming.pipelines.near_dup_stream,
    parity-tested). One band equi-join of increment x corpus, never a
    corpus self-join."""
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signature(docs, shingle_n=SHINGLE_N,
                                  num_hashes=NUM_HASHES)
    new = sigs.filter(F.col("doc_id") % INC_MOD == 0)
    corpus = sigs.filter(F.col("doc_id") % INC_MOD != 0)
    return dedup.lsh_candidates_against(new, corpus, bands=BANDS,
                                        rows_per_band=ROWS_PER_BAND,
                                        num_hashes=NUM_HASHES)


def dedup_incremental_spans(spark, sf_dir):
    """Increment-vs-corpus SPAN probe (see operators.text.
    span_overlap_against), completing the incremental trio: per new
    doc (doc_id % INC_MOD == 0), how many of its 13-word spans already
    exist in the standing corpus and the exact interval-union coverage
    of that pre-existing text — catches partial mirrors and template
    text that no single-doc near-dup probe flags."""
    docs = _docs(spark, sf_dir)
    return text.span_overlap_against(
        docs.filter(F.col("doc_id") % INC_MOD == 0),
        docs.filter(F.col("doc_id") % INC_MOD != 0))


def dedup_source_overlap(spark, sf_dir):
    """Source-overlap matrix: MinHash-LSH near-duplicate candidate
    pairs rolled up by (unordered) source pair — the curation
    dashboard showing WHICH sources duplicate each other (crawl
    snapshot vs mirror, wiki dump vs scrape). Pair count plus the max
    signature-agreement estimate per cell; max (not a float sum) so
    the aggregate is order-free on every engine."""
    pairs = dedup_minhash_lsh(spark, sf_dir)    # doc_a, doc_b, est_jaccard
    src = _docs(spark, sf_dir).select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("doc_a"),
                   F.col("source").alias("src_a"))
    b = src.select(F.col("doc_id").alias("doc_b"),
                   F.col("source").alias("src_b"))
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .select(F.least("src_a", "src_b").alias("source_lo"),
                    F.greatest("src_a", "src_b").alias("source_hi"),
                    "est_jaccard")
            .groupBy("source_lo", "source_hi")
            .agg(F.count("*").alias("n_pairs"),
                 F.max("est_jaccard").alias("max_est_jaccard")))


def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def dedup_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signature(docs, shingle_n=SHINGLE_N, num_hashes=NUM_HASHES)
    cands = dedup.lsh_candidate_pairs(
        sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND,
        num_hashes=NUM_HASHES).select("doc_a", "doc_b")
    return (dedup.ngram_jaccard_pairs(docs, cands, shingle_n=SHINGLE_N)
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD))


def dedup_jaccard_exact(spark, sf_dir):
    """EXACT all-pairs n-gram Jaccard >= threshold via prefix filtering
    (PPJoin family) — the LSH-free scale path for exact set-similarity
    join: candidates only where rarest-gram prefixes collide, then full
    verification. The oracle is the straightforward inverted-index
    form, so the hash match PROVES the prefix-filter theorem
    implementation loses no pairs (see
    operators.dedup.jaccard_exact_pairs for the integer-ceil hazard)."""
    return dedup.jaccard_exact_pairs(_docs(spark, sf_dir), JACCARD_NUM,
                                     JACCARD_DEN, shingle_n=SHINGLE_N)


def dedup_incremental_jaccard(spark, sf_dir):
    """Increment-vs-corpus EXACT n-gram Jaccard — the fifth member of
    the incremental family (exact hash / MinHash near / span overlap /
    semantic / exact Jaccard): the new batch's shingles rank under the
    FROZEN corpus-df global order, prefixes equi-join the standing
    prefix store (dedup.jaccard_prefix_index — persisted and
    stream-probed like the other standing stores), candidates verify
    with full intersection counts. Never a corpus self-join. The
    oracle is the complete new x corpus inverted-index form, so the
    hash match proves the cross-set prefix filter loses no pairs."""
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % INC_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % INC_MOD != 0)
    return dedup.jaccard_incremental_pairs(new, corpus, JACCARD_NUM,
                                           JACCARD_DEN,
                                           shingle_n=SHINGLE_N)


def dedup_minhash_recall(spark, sf_dir):
    """MinHash-LSH banding measuring what it accepts to miss — the
    fourth recall self-measurement next to sim_recall_ann (LSH),
    sim_recall_rerank (PQ) and dedup_semantic_recall (SemDeDup): the
    exact set is every pair with TRUE n-gram Jaccard >= threshold,
    enumerable WITHOUT an all-pairs join because Jaccard > 0 requires a
    shared shingle (the inverted-index candidate trick: gram-blocked
    self-join, equi-join only). The banded leg is dedup_ngram_jaccard's
    verified LSH candidates; verified-band pairs are a subset of the
    exact set by construction, and the per-pair flags PROVE it
    (n_found == n_banded). n_missed counts over-threshold pairs whose
    signatures never collide in any band — the banding-probability
    tail the (bands, rows_per_band) choice trades away. The exact leg
    is the prefix-filtered exact join (dedup_jaccard_exact's path —
    the oracle stays the inverted-index form, so its hash match
    doubles as a losslessness proof of the prefix filter).

    r12 restructure (guide §2.3; VERDICT r11 "share one candidate
    frame"): the two legs previously ran the full gram-join verify
    pipeline TWICE (once over the ~648k prefix candidates, once over
    the ~800 LSH-verified candidates) and re-derived the exact leg for
    the subset join — 32 parquet scans / 36 shingle explodes / 85
    exchanges in one plan. Now the UNION of the two candidate sets is
    verified ONCE with per-set membership flags riding the joins
    (``carry_cols``), and the three counts are one aggregate over the
    verified frame: n_exact = pairs >= threshold from the (complete)
    prefix set, n_banded = pairs >= threshold from the LSH set,
    n_found = pairs in both — value-identical to the two-leg join
    (the per-pair Jaccard is the same integer ratio either way), and
    the subset property is still an empirical outcome of the flags,
    not an assumption. Plan: 8 scans, one verify, ~30 exchanges."""
    docs = _docs(spark, sf_dir)
    pc = dedup.jaccard_candidates(docs, JACCARD_NUM, JACCARD_DEN,
                                  shingle_n=SHINGLE_N)
    sigs = dedup.minhash_signature(docs, shingle_n=SHINGLE_N,
                                   num_hashes=NUM_HASHES)
    lc = (dedup.lsh_candidate_pairs(sigs, bands=BANDS,
                                    rows_per_band=ROWS_PER_BAND,
                                    num_hashes=NUM_HASHES)
          .select("doc_a", "doc_b"))
    cand = (pc.select("doc_a", "doc_b",
                      F.lit(True).alias("_in_p"), F.lit(False).alias("_in_b"))
            .unionByName(lc.select("doc_a", "doc_b",
                                   F.lit(False).alias("_in_p"),
                                   F.lit(True).alias("_in_b")))
            .groupBy("doc_a", "doc_b")
            .agg(F.max("_in_p").alias("_in_p"), F.max("_in_b").alias("_in_b")))
    hits = (dedup.ngram_jaccard_pairs(docs, cand, shingle_n=SHINGLE_N,
                                      carry_cols=("_in_p", "_in_b"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD))
    row = hits.agg(
        F.count_if(F.col("_in_p")).alias("n_exact"),
        F.count_if(F.col("_in_b")).alias("n_banded"),
        F.count_if(F.col("_in_p") & F.col("_in_b")).alias("n_found"))
    return row.select(
        "n_exact", "n_banded", "n_found",
        (F.col("n_exact") - F.col("n_found")).alias("n_missed"),
        F.when(F.col("n_exact") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_found").cast("double")
                   / F.col("n_exact")).alias("recall"))


def dedup_clusters(spark, sf_dir):
    """LSH candidate pairs -> transitive duplicate clusters + keeper.

    The stage the pair-emitting dedup queries feed at scale: connected
    components (iterative min-label propagation, O(log n) rounds) turn
    pairs into clusters; the cluster minimum is the keeper. Oracle:
    DuckDB recursive CTE computing min-reachable-id per node.
    """
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signature(docs, shingle_n=SHINGLE_N,
                                   num_hashes=NUM_HASHES)
    pairs = dedup.lsh_candidate_pairs(
        sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND,
        num_hashes=NUM_HASHES).select("doc_a", "doc_b")
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (cc.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper")))


def dedup_cluster_keeper(spark, sf_dir):
    """Quality-aware NEAR-dup keeper — the curation-grade final stage:
    LSH candidate pairs become transitive clusters (connected
    components, as in dedup_clusters) and within each cluster the
    HIGHEST-quality member is kept (tie -> smallest doc_id), the
    near-dup analog of dedup_quality_keeper's rule (dedup_clusters'
    min-id keeper is arbitrary; real pipelines keep the best copy).
    One window over (cluster, quality, id) primitives after the
    quality join; engine-portable because the quality chain is
    bit-identical on both sides."""
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    sigs = dedup.minhash_signature(docs, shingle_n=SHINGLE_N,
                                   num_hashes=NUM_HASHES)
    pairs = dedup.lsh_candidate_pairs(
        sigs, bands=BANDS, rows_per_band=ROWS_PER_BAND,
        num_hashes=NUM_HASHES).select("doc_a", "doc_b")
    cc = dedup.connected_components(pairs)
    q = text.quality_score(docs).select("doc_id", "quality")
    w = W.partitionBy("cluster_id").orderBy(F.desc("quality"),
                                            F.asc("doc_id"))
    return (cc.join(q, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .select("doc_id", "cluster_id", "quality",
                    (F.col("rn") == 1).alias("is_keeper")))


def dedup_embedding_cosine(spark, sf_dir):
    return similarity.cosine_near_dup_pairs(_embs(spark, sf_dir), COS_DUP_THRESHOLD,
                                            dim=DIM)


def sim_topk_bruteforce(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_bruteforce(queries, embs, TOPK, dim=DIM)


def sim_ann_lsh(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_lsh(queries, embs, TOPK, num_planes=NUM_PLANES, dim=DIM)


def sim_knn_label_vote(spark, sf_dir):
    """kNN auto-labeling over the embeddings' ground-truth labels:
    majority vote among each sampled query's TOPK nearest neighbors
    from the LSH-bucketed ANN search (see
    operators.similarity.knn_label_vote) — the silver-labeling /
    label-propagation primitive at its scale-safe shape: candidate
    generation is an equi-join on the LSH bucket, never all-pairs.
    The exact-top-k ground truth lives in sim_knn_label_vote_exact;
    sim_knn_agreement reports where the two votes differ."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    top = similarity.topk_lsh(queries, embs, TOPK, num_planes=NUM_PLANES,
                              dim=DIM)
    return similarity.knn_label_vote(queries, embs, TOPK, dim=DIM, top=top)


def sim_knn_label_vote_exact(spark, sf_dir):
    """Brute-force twin of sim_knn_label_vote: majority vote among the
    TOPK EXACT cosine neighbors — the labeled ground-truth baseline
    (all-pairs by definition, BNLJ-allowlisted, out of the verify
    window like sim_topk_bruteforce)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.knn_label_vote(queries, embs, TOPK, dim=DIM)


def sim_knn_agreement(spark, sf_dir):
    """Vote-agreement report: for every query, the exact-kNN label vs
    the ANN(LSH)-kNN label and whether they agree — the classification
    analog of sim_recall_ann (the ANN path measuring itself against
    the exact baseline it replaces). Queries whose LSH bucket held no
    candidates surface with a NULL pred_ann (agrees=false). Both legs
    score ONE persisted normalized-corpus frame
    (operators.similarity.knn_agreement_report) instead of rebuilding
    it per leg — value-identical to joining the two standalone vote
    queries, at roughly half the cost."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.knn_agreement_report(queries, embs, TOPK,
                                           num_planes=NUM_PLANES, dim=DIM)


def sim_recall_rerank(spark, sf_dir):
    """Does the exact re-rank actually buy recall? Per query: exact
    top-k size, hits of the raw PQ top-k, and hits of the
    rerank-from-the-same-shortlist top-k — integer counts only, so
    cross-engine exact. The PQ pipeline runs ONCE: the k*mult
    shortlist feeds both the rank<=k prefix (raw PQ answer) and the
    exact re-scoring (operators.similarity.topk_pq_rerank's
    ``shortlist`` plug); Catalyst's ReuseExchange dedupes the shared
    subplan. The brute-force leg is the definitionally-exact baseline
    (allowlisted, like sim_recall_ann's)."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    short = similarity.topk_pq(queries, embs, TOPK * PQ_RERANK_MULT,
                               m_sub=PQ_M, sub_dim=PQ_SUB_DIM,
                               n_codes=PQ_CODES, iters=PQ_ITERS)
    pq_top = (short.filter(F.col("rank") <= TOPK)
              .select("query_id", "neighbor_id"))
    rr_top = similarity.topk_pq_rerank(
        queries, embs, TOPK, m_sub=PQ_M, sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CODES, iters=PQ_ITERS, mult=PQ_RERANK_MULT, dim=DIM,
        shortlist=short.select("query_id", "neighbor_id")
    ).select("query_id", "neighbor_id")
    exact = (similarity.topk_bruteforce(queries, embs, TOPK, dim=DIM)
             .select("query_id", "neighbor_id"))
    # r12 (guide §2.3): the two hit legs union into one tagged frame so
    # the exact subtree is joined once (2 references instead of 3 — its
    # ranking window re-executes per reference) and the two hit
    # aggregates collapse into one count_if pair. Values identical:
    # count_if over the tagged inner join == the per-leg join counts,
    # and queries with no hits coalesce to 0 exactly as before.
    tagged = (pq_top.select("query_id", "neighbor_id",
                            F.lit(True).alias("_pq"))
              .unionByName(rr_top.select("query_id", "neighbor_id",
                                         F.lit(False).alias("_pq"))))
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = (exact.join(tagged, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count_if(F.col("_pq")).alias("n_hits_pq"),
                 F.count_if(~F.col("_pq")).alias("n_hits_rerank")))
    return (n_exact.join(hits, "query_id", "left")
            .select("query_id", "n_exact",
                    F.coalesce("n_hits_pq", F.lit(0).cast("long"))
                    .alias("n_hits_pq"),
                    F.coalesce("n_hits_rerank", F.lit(0).cast("long"))
                    .alias("n_hits_rerank")))


def sim_eval_retrieval(spark, sf_dir):
    """Search-quality evaluation of the LSH ANN path against label
    relevance (see operators.similarity.retrieval_eval): per query,
    precision@k and MRR over the TOPK LSH neighbors — the
    label-based eval that complements sim_recall_ann's overlap-based
    recall. Rational metrics only, so cross-engine exact; empty-bucket
    queries surface with zeros."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    top = similarity.topk_lsh(queries, embs, TOPK, num_planes=NUM_PLANES,
                              dim=DIM)
    return similarity.retrieval_eval(queries, embs, TOPK, top)


def dedup_jaccard_report(spark, sf_dir):
    """MinHash-estimate quality per candidate pair: signature-agreement
    Jaccard vs the exact n-gram Jaccard, with the signed error — the
    dedup analog of sim_recall_ann (the sketch measuring itself).

    Zero-overlap candidates (LSH false positives with no shared gram)
    surface with exact jaccard 0.0 via the left join."""
    docs = _docs(spark, sf_dir)
    est = dedup_minhash_lsh(spark, sf_dir)     # doc_a, doc_b, est_jaccard
    exact = dedup.ngram_jaccard_pairs(docs, est.select("doc_a", "doc_b"),
                                      shingle_n=SHINGLE_N)
    j = F.coalesce("jaccard", F.lit(0.0))
    return (est.join(exact, ["doc_a", "doc_b"], "left")
            .select("doc_a", "doc_b", "est_jaccard", j.alias("jaccard"),
                    (F.col("est_jaccard") - j).alias("est_error")))


def corpus_clean(spark, sf_dir):
    """End-to-end curation decision per document — the query a
    training-data pipeline actually ships: benchmark holdout > exact
    dup > near-dup non-keeper > contaminated > keep, one reason code
    per doc.

    Pure composition of the judged component pipelines (exact dedup
    groups, LSH->connected-components clusters, decontamination), so
    the oracle is their oracle SELECTs as CTEs plus the same CASE —
    definitions cannot drift. All joins are on doc_id/16-byte hashes.
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    docs = _docs(spark, sf_dir)
    exact = dedup_exact(spark, sf_dir)          # text_hash, keep_doc_id
    clusters = dedup_clusters(spark, sf_dir)    # doc_id, is_keeper
    decon = text_decontam(spark, sf_dir)        # doc_id, is_contaminated
    bench = (hex_to_long(F.md5(F.concat(F.lit("bench:"),
                                        F.col("doc_id").cast("string"))))
             % DECON_MOD == 0)
    d = (docs.select("doc_id", F.md5("text").alias("text_hash"),
                     bench.alias("is_bench"))
         .join(exact.select("text_hash", "keep_doc_id"), "text_hash")
         .join(clusters.select("doc_id", "is_keeper"), "doc_id", "left")
         .join(decon.select("doc_id", "is_contaminated"), "doc_id", "left"))
    decision = (
        F.when(F.col("is_bench"), "benchmark")
        .when(F.col("doc_id") != F.col("keep_doc_id"), "exact_dup")
        .when(~F.coalesce("is_keeper", F.lit(True)), "near_dup")
        .when(F.coalesce("is_contaminated", F.lit(False)), "contaminated")
        .otherwise("keep"))
    return d.select("doc_id", decision.alias("decision"))


def corpus_curation_decisions(spark, sf_dir):
    """The r10 streaming-ingest composition (streaming.pipelines.
    curate_batch) in its BATCH form, under the oracle gate: today's
    increment (doc_id % INC_MOD == 0) runs the full ingest gauntlet —
    exact-digest probe, MinHash band probe, frozen quality gate —
    against stores frozen from the standing corpus (the rest), all
    built in-query so the oracle can re-derive them.

    This is the SAME function the streaming end-to-end parity test
    drives through foreachBatch (tests/test_streaming.py::
    test_curation_stream_end_to_end_parity), so a green row here
    attests the micro-batch decision dataflow itself, not a twin.

    Scale shape: two equi-joins against bounded frozen stores (16-byte
    digests; (band, band_hash) ints) plus a shuffle-free scoring
    projection with the frozen d=4 model as literals — per-increment
    cost is linear in the increment, never in the corpus."""
    from demo_apache_flink_streaming_mode_spark.streaming import pipelines
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % INC_MOD != 0)
    batch = docs.filter(F.col("doc_id") % INC_MOD == 0)
    exact_idx = dedup.exact_hash_index(corpus)
    band_idx = dedup.minhash_band_index(
        dedup.minhash_signature(corpus, shingle_n=SHINGLE_N,
                                num_hashes=NUM_HASHES),
        bands=BANDS, rows_per_band=ROWS_PER_BAND)
    # no persist (r12): fit_quality_weights is now a single aggregation
    # action (count rides the stats job), so the feature frame is
    # evaluated exactly once with or without a cache
    weights, _ = ml.fit_quality_weights(ml.quality_filter_features(corpus))
    return pipelines.curate_batch(batch, exact_idx, band_idx, weights)


def sim_recall_ann(spark, sf_dir):
    """Recall@k per ANN method — LSH, trained IVF nprobe=1, trained IVF
    nprobe=2, PQ — against the brute-force baseline, per query: the
    engine measuring its own approximation quality and the nprobe /
    quantization recall knobs.

    Pure counting on top of the existing top-k pipelines (hit = same
    (query, neighbor) pair in exact and approximate). The two IVF legs
    share one trained codebook and corpus placement
    (``topk_ivf_probes``), so the sweep pays k-means once. Integer
    outputs only, so the oracle is a join of the existing oracle CTEs
    with no float arithmetic at all.

    Plan note (measured, r4): do NOT pre-materialize one shared
    normalized corpus for all legs — an eager localCheckpoint feeding
    every leg ran ~40% SLOWER (19.5s -> 26-31s at sf0.1) than this
    composed plan, where Spark's ReuseExchange already dedupes the
    identical normalization subplans and keeps them fused in codegen.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    exact = (similarity.topk_bruteforce(queries, embs, TOPK, dim=DIM)
             .select("query_id", "neighbor_id"))
    # the two TRAINED legs (IVF, PQ) share one materialized normalized
    # corpus (r11): each previously normalized + lineage-cut its own
    # copy — one identical job apiece. The lazy legs (lsh, brute-force)
    # stay composed, per the r4 measurement in the note below.
    u = similarity.normalized_corpus(embs)
    ivf = similarity.topk_ivf_probes(queries, embs, TOPK, n_cells=N_CELLS,
                                     nprobes=[1, IVF_NPROBE], dim=DIM,
                                     train_iters=KMEANS_ITERS, u=u)
    methods = {
        "lsh": similarity.topk_lsh(queries, embs, TOPK,
                                   num_planes=NUM_PLANES, dim=DIM),
        "ivf1": ivf[1],
        f"ivf{IVF_NPROBE}": ivf[IVF_NPROBE],
        "pq": similarity.topk_pq(queries, embs, TOPK, m_sub=PQ_M,
                                 sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
                                 iters=PQ_ITERS, u=u),
    }
    # r12 report restructure (guide §2.3/§2.4; VERDICT r11 item 5): the
    # per-method legs each ran their own n_ann aggregate, hits join +
    # aggregate, and two report joins — and every one re-referenced the
    # brute-force exact subtree (5 references = 5 re-executions of its
    # ranking window above the reused exchange). Now the four ANN legs
    # union into ONE method-tagged frame: one n_ann aggregate, one hits
    # join + aggregate, and the exact subtree is referenced twice
    # (n_exact + hits). Row set and values are identical — the same
    # (method, query) pairs emerge from the method-exploded n_exact
    # base with the same left-join/coalesce semantics.
    ann_all = None
    for m, df in methods.items():
        leg = df.select(F.lit(m).alias("method"), "query_id", "neighbor_id")
        ann_all = leg if ann_all is None else ann_all.unionByName(leg)
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    n_ann = (ann_all.groupBy("method", "query_id")
             .agg(F.count("*").alias("n_ann")))
    hits = (exact.join(ann_all, ["query_id", "neighbor_id"])
            .groupBy("method", "query_id").agg(F.count("*").alias("n_hits")))
    base = n_exact.withColumn(
        "method", F.explode(F.array(*[F.lit(m) for m in methods])))
    return (base.join(n_ann, ["method", "query_id"], "left")
            .join(hits, ["method", "query_id"], "left")
            .select("method", "query_id", "n_exact",
                    F.coalesce("n_ann", F.lit(0)).alias("n_ann"),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits")))


def dedup_cosine_lsh(spark, sf_dir):
    return similarity.cosine_near_dup_blocked(
        _embs(spark, sf_dir), COS_DUP_THRESHOLD,
        num_planes=NUM_PLANES, dim=DIM)


def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means cluster the embeddings
    (the engine's own DataFrame-only Lloyd's), cosine pairs scored
    WITHIN a cluster only — the semantic-blocking third leg next to
    the LSH-blocked and exact-baseline embedding dedups
    (operators.similarity.cosine_near_dup_clustered)."""
    return similarity.cosine_near_dup_clustered(
        _embs(spark, sf_dir), COS_DUP_THRESHOLD,
        n_cells=N_CELLS, train_iters=KMEANS_ITERS, dim=DIM)


def dedup_semantic_recall(spark, sf_dir):
    """SemDeDup measuring what it accepts to miss (VERDICT r7 item 6):
    the paper tolerates near-dup pairs straddling a cluster boundary;
    this report QUANTIFIES that tolerance against the exact all-pairs
    baseline, the same self-measurement shape as sim_recall_ann (LSH)
    and sim_recall_rerank (PQ). One row: exact pair count, clustered
    pair count, their intersection, the boundary misses, and recall.
    Semantic pairs score with the identical dot/threshold inside a
    cell, so n_found should equal n_semantic — the join PROVES the
    subset property instead of assuming it. The exact leg is the
    definitionally-quadratic labeled baseline (BNLJ-allowlisted, out
    of scale paths); the three 1-row aggregates attach by broadcast.
    """
    embs = _embs(spark, sf_dir)
    exact = (similarity.cosine_near_dup_pairs(embs, COS_DUP_THRESHOLD,
                                              dim=DIM)
             .select("vec_a", "vec_b"))
    sem = dedup_semantic(spark, sf_dir).select("vec_a", "vec_b")
    # r12 (guide §2.3): the quadratic exact leg (a BroadcastNestedLoop
    # join with NO exchange at its top, so ReuseExchange cannot dedupe
    # it) was previously referenced twice — once for n_exact, once for
    # the intersection join — i.e. the 2M-pair scoring executed TWICE.
    # Tag-union both legs and aggregate flags per pair instead: each
    # leg executes ONCE and the three counts are one count_if
    # aggregate. Values identical: pairs are unique within each leg,
    # so max-ed flags reproduce exactly the old count/intersection.
    both = (exact.select("vec_a", "vec_b", F.lit(True).alias("_e"),
                         F.lit(False).alias("_s"))
            .unionByName(sem.select("vec_a", "vec_b",
                                    F.lit(False).alias("_e"),
                                    F.lit(True).alias("_s")))
            .groupBy("vec_a", "vec_b")
            .agg(F.max("_e").alias("_e"), F.max("_s").alias("_s")))
    row = both.agg(F.count_if(F.col("_e")).alias("n_exact"),
                   F.count_if(F.col("_s")).alias("n_semantic"),
                   F.count_if(F.col("_e") & F.col("_s")).alias("n_found"))
    return row.select(
        "n_exact", "n_semantic", "n_found",
        (F.col("n_exact") - F.col("n_found")).alias("n_missed"),
        F.when(F.col("n_exact") == 0, F.lit(None).cast("double"))
        .otherwise(F.col("n_found").cast("double")
                   / F.col("n_exact")).alias("recall"))


def dedup_incremental_semantic(spark, sf_dir):
    """Increment-vs-corpus SEMANTIC dedup — incremental SemDeDup (see
    operators.similarity.cosine_incremental_clustered): k-means cells
    trained on the STANDING corpus only (vec_id % INC_MOD != 0, the
    frozen semantic index), the new batch (vec_id % INC_MOD == 0)
    assigned into those cells and scored against same-cell corpus
    members only. Completes the incremental quartet (exact hash /
    MinHash near / span overlap / semantic) and is the batch twin of
    the stream-static probe parity-tested in
    tests/test_streaming.py."""
    embs = _embs(spark, sf_dir)
    new = embs.filter(F.col("vec_id") % INC_MOD == 0)
    corpus = embs.filter(F.col("vec_id") % INC_MOD != 0)
    return similarity.cosine_incremental_clustered(
        new, corpus, COS_DUP_THRESHOLD, n_cells=N_CELLS,
        train_iters=KMEANS_ITERS, dim=DIM)


def corpus_topics(spark, sf_dir):
    """Cluster-topic report — the cluster-balanced curation primitive
    (inspect/reweight a corpus BY SEMANTIC REGION, the organizing step
    behind cluster-based sampling and SemDeDup-style pruning): k-means
    cells over the embeddings (operators.similarity.semantic_cells,
    the exact blocking stage dedup_semantic uses) joined 1:1 to the
    documents, then per cell the doc count and the top TOPIC_TOPN
    LABELING TERMS by cell-level term frequency weighted with the
    corpus Robertson idf ((N - df + 0.5)/(df + 0.5), rational — no
    libm, cross-engine exact), ties by term ascending.

    Scale shape: clustering is linear passes with broadcast centroids;
    token counting is the text_tfidf dataflow (explode -> map-side
    combined counts; the df/N sides are vocab-bounded and 1-row
    broadcasts); the per-cell top-n is a rank window partitioned by
    cell — no global sort anywhere.
    """
    from pyspark.sql import Window as W
    embs = _embs(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    cells = (similarity.semantic_cells(embs, N_CELLS,
                                       train_iters=KMEANS_ITERS, dim=DIM)
             .select(F.col("vec_id").alias("doc_id"), "cell"))
    toks = (dedup.spread(docs, "doc_id")
            .select("doc_id",
                    F.explode(dedup.word_tokens(F.col("text"))).alias("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    ctf = (tf.join(cells, "doc_id")
           .groupBy("cell", "term").agg(F.sum("tf").alias("ctf")))
    nc = cells.groupBy("cell").agg(F.count("*").alias("n_docs_cell"))
    scored = (ctf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .select("cell", "term",
                      (F.col("ctf").cast("double")
                       * (F.col("n_docs") - F.col("df") + F.lit(0.5))
                       / (F.col("df") + F.lit(0.5))).alias("score")))
    w = W.partitionBy("cell").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPIC_TOPN)
            .join(nc, "cell")
            .select("cell", "rank", "term", "n_docs_cell", "score"))


def sim_topk_ivf(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_ivf(queries, embs, TOPK, n_cells=N_CELLS, dim=DIM)


def sim_topk_ivf_trained(spark, sf_dir):
    """IVF top-k with a k-means-trained codebook (VERDICT r1 item 6).

    Same probe dataflow as ``sim_topk_ivf``; the coarse centroids are
    refined by KMEANS_ITERS deterministic Lloyd's iterations first.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_ivf(queries, embs, TOPK, n_cells=N_CELLS, dim=DIM,
                               train_iters=KMEANS_ITERS)


def sim_topk_ivf_probe2(spark, sf_dir):
    """Trained IVF with nprobe=2 (VERDICT r3 item 6): each query
    searches its two nearest cells instead of one — the standard IVF
    recall knob. The assignment window already scores every cell, so
    probing two costs only the wider candidate join.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_ivf(queries, embs, TOPK, n_cells=N_CELLS, dim=DIM,
                               train_iters=KMEANS_ITERS, nprobe=IVF_NPROBE)


def sim_topk_pq(spark, sf_dir):
    """Product-quantization ANN top-k (ADC search): per-subspace
    codebooks trained with deterministic Lloyd's, corpus stored as
    PQ_M code ids, per-query distance = table lookup + in-order sum.
    The memory-bound scale path: the compressed corpus is
    DIM/PQ_M * 32x smaller than float32 at 100 TB.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_pq(queries, embs, TOPK, m_sub=PQ_M,
                              sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
                              iters=PQ_ITERS)


PQ_RERANK_MULT = 4      # ADC shortlist depth = TOPK * this


def sim_topk_pq_rerank(spark, sf_dir):
    """Two-stage ANN (FAISS IndexIVFPQ+refine shape): PQ/ADC shortlist
    of TOPK * PQ_RERANK_MULT candidates per query, then EXACT cosine
    re-ranking on the shortlist only
    (operators.similarity.topk_pq_rerank) — exact float math never
    touches more than |queries| * k * mult rows, recovering the recall
    the 64x compression lost."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_pq_rerank(queries, embs, TOPK, m_sub=PQ_M,
                                     sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES,
                                     iters=PQ_ITERS, mult=PQ_RERANK_MULT,
                                     dim=DIM)


IVFPQ_NPROBE = 2        # coarse cells probed per query


def sim_topk_ivfpq_rerank(spark, sf_dir):
    """IVF-PQ + refine — the literal FAISS deploy default: the IVF-PQ
    probe proposes TOPK * PQ_RERANK_MULT candidates per query from the
    compressed inverted lists (residual ADC lookups, never float
    corpus math), then EXACT cosine re-ranks the shortlist only
    (similarity.topk_pq_rerank's refine stage fed by
    similarity.topk_ivfpq's shortlist). Exact math touches
    |queries| * k * mult rows total."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    short = similarity.topk_ivfpq(
        queries, embs, TOPK * PQ_RERANK_MULT, n_cells=N_CELLS, m_sub=PQ_M,
        sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES, coarse_iters=KMEANS_ITERS,
        pq_iters=PQ_ITERS, nprobe=IVFPQ_NPROBE, dim=DIM)
    return similarity.topk_pq_rerank(
        queries, embs, TOPK, m_sub=PQ_M, sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CODES, iters=PQ_ITERS, mult=PQ_RERANK_MULT, dim=DIM,
        shortlist=short)


def sim_topk_ivfpq(spark, sf_dir):
    """IVF-PQ ANN top-k — the full FAISS IndexIVFPQ composition the
    two standalone tiers build toward: a trained coarse quantizer
    partitions the corpus into inverted lists, ONE shared PQ codebook
    is trained on the cell RESIDUALS (uv - centroid), and each query
    probes its IVFPQ_NPROBE nearest cells with an ADC table built on
    its own per-cell residual (operators.similarity.topk_ivfpq).
    Residual encoding is the production win: the same PQ_CODES spend
    their resolution on the small within-cell ball instead of the
    whole sphere, and the serve-time corpus is PQ_M code bytes + a
    cell id per vector."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_ivfpq(
        queries, embs, TOPK, n_cells=N_CELLS, m_sub=PQ_M,
        sub_dim=PQ_SUB_DIM, n_codes=PQ_CODES, coarse_iters=KMEANS_ITERS,
        pq_iters=PQ_ITERS, nprobe=IVFPQ_NPROBE, dim=DIM)


def dedup_quality_keeper(spark, sf_dir):
    """Quality-aware dedup keeper: within each exact-duplicate group,
    keep the HIGHEST-quality copy (tie -> smallest doc_id) — the
    curation-grade rule (dedup_exact's min-id keeper is arbitrary;
    real corpus pipelines keep the best-scoring duplicate). One window
    over (hash, quality, id) primitives after the quality join; the
    double comparison is engine-portable because the quality chain is
    bit-identical on both sides (see text.quality_score).
    """
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs)
    g = (docs.select(F.md5("text").alias("text_hash"), "doc_id")
         .join(q, "doc_id"))
    w = W.partitionBy("text_hash").orderBy(F.desc("quality"),
                                           F.asc("doc_id"))
    wc = W.partitionBy("text_hash")
    return (g.withColumn("rn", F.row_number().over(w))
            .withColumn("n_copies", F.count("*").over(wc))
            .filter((F.col("rn") == 1) & (F.col("n_copies") > 1))
            .select("text_hash", "n_copies",
                    F.col("doc_id").alias("keep_doc_id"),
                    F.col("quality").alias("keep_quality")))


SIMHASH_MAX_HAMMING = 3


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3, found by
    band-blocking (pigeonhole-complete for <= bands-1 diffs) + exact
    bit_count verify — the signature-space twin of MinHash-LSH.
    """
    return dedup.simhash_near_pairs(_docs(spark, sf_dir),
                                    max_hamming=SIMHASH_MAX_HAMMING,
                                    bits=SIMHASH_BITS)


def sim_topk_int8(spark, sf_dir):
    """Top-k over int8-quantized unit vectors: exact integer dot
    products (no fold-order concerns at all) scaled by the two
    per-vector quantization scales — the 4x-smaller SIMD-width search
    representation, rankable against the float brute force.
    """
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_int8(queries, embs, TOPK)


BIN_RERANK_MULT = 4     # binary Hamming shortlist depth = TOPK * this


def sim_topk_binary(spark, sf_dir):
    """Two-stage ANN over BINARY (1-bit sign) quantized embeddings —
    the 32x-compression rung of the quantization ladder: per-query
    Hamming shortlist over the packed sign words (two XOR+popcount
    integer ops per candidate, the cheapest possible compressed scan),
    exact cosine re-rank on the shortlist only
    (operators.similarity.topk_binary_rerank). The oracle re-derives
    the sign words, the integer Hamming ranking, and the exact re-rank
    in SQL — every stage-1 comparison is integer math, so the
    shortlist is bit-identical across engines by construction."""
    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") % QUERY_MOD == 0)
    return similarity.topk_binary_rerank(queries, embs, TOPK, dim=DIM,
                                         mult=BIN_RERANK_MULT)


def text_bpe_stats(spark, sf_dir):
    return text.bpe_token_stats(_docs(spark, sf_dir))


def dedup_winnow_pairs(spark, sf_dir):
    """MOSS-style near-dup candidate pairs from the winnowing
    fingerprint (see operators.text.winnow_near_pairs): docs sharing
    >= 2 selected hashes, with containment = shared / min fingerprint
    size — the fingerprint family's dedup USE, complementing the
    MinHash band join and SimHash pigeonhole blocking."""
    return text.winnow_near_pairs(_docs(spark, sf_dir),
                                  shingle_n=WINNOW_N, window=WINNOW_W)


def text_winnow(spark, sf_dir):
    return text.winnow_fingerprint(_docs(spark, sf_dir),
                                   shingle_n=WINNOW_N, window=WINNOW_W)


def text_token_stats(spark, sf_dir):
    df = text.token_stats(_docs(spark, sf_dir))
    return df.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                     F.col("n_distinct").cast("long").alias("n_distinct"),
                     F.col("n_token_chars").cast("long").alias("n_token_chars"))


DIVERSITY_NS = (1, 2, 3)
LENGTH_BUCKETS = 10
SHARD_BUDGET = 4096     # tokens per training shard
SHARD_BUCKETS = 16      # prefix-sum order buckets (scale with cluster)


def text_pack_shards(spark, sf_dir):
    """Training-shard packing: every document gets a global token
    offset in a deterministic md5-shuffled corpus order and a shard id
    from cutting that order every SHARD_BUDGET tokens — the
    concat-and-cut layout pass of a tokenized-corpus writer. The
    global running sum is a two-phase distributed prefix sum
    (within-bucket keyed window + broadcast bucket starts), never a
    single-partition global window — see operators.scale.pack_shards.
    """
    toks = text.token_stats(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    return scale.pack_shards(toks, "doc_id", "n_tokens", SHARD_BUDGET,
                             num_buckets=SHARD_BUCKETS)


SEQ_CTX = 128           # training-sequence context length (tokens)


MIX_EPOCH_TOKENS = 1_000_000   # epoch budget the plan allocates


def text_mixture_plan(spark, sf_dir):
    """Temperature-scaled source mixture plan (alpha = 1/2): each
    source's sampling weight is n_tokens^alpha, normalized — the
    standard rebalancing exponent for multilingual / multi-source
    pretraining mixes (raw-proportion sampling starves small sources;
    uniform over-trains them; alpha in (0,1) interpolates). Emits per
    source the doc/token counts, the sqrt weight, its share, and the
    epoch token allocation at MIX_EPOCH_TOKENS.

    Engine-exact: token counts are integers, sqrt is IEEE
    correctly-rounded on both engines, and the normalizer is an
    in-source-order fold (sources are bounded, so the fold is over a
    handful of rows); one map-side-combinable groupBy + a 1-row
    broadcast total — shuffle-free at any corpus size beyond the
    per-source aggregation."""
    docs = _docs(spark, sf_dir)
    toks = F.size(dedup.word_tokens(F.col("text")))
    agg = (dedup.spread(docs, "doc_id")
           .groupBy("source")
           .agg(F.count("*").alias("n_docs"),
                F.sum(toks).cast("long").alias("n_tokens")))
    stats = agg.withColumn("w", F.sqrt(F.col("n_tokens").cast("double")))
    total = stats.agg(scale.ordered_sum("source", "w").alias("tw"))
    share = F.col("w") / F.col("tw")
    return (stats.crossJoin(F.broadcast(total))
            .select("source", "n_docs", "n_tokens",
                    F.col("w").alias("weight"), share.alias("share"),
                    (share * F.lit(float(MIX_EPOCH_TOKENS)))
                    .alias("epoch_tokens")))


def text_pack_sequences(spark, sf_dir):
    """Concat-and-chunk SEQUENCE packing — the GPT-style pretraining
    layout one granularity below shard packing: the same md5-shuffled
    corpus order is sliced into fixed SEQ_CTX-token training
    sequences, documents straddling cuts, and the emitted manifest is
    one row per (sequence, document) overlap with the exact token
    slice (operators.scale.pack_sequences). Two-phase distributed
    prefix sum + a bounded ~n/ctx explode; every sequence but the last
    is exactly full (pinned in tests)."""
    toks = text.token_stats(_docs(spark, sf_dir)).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
    return scale.pack_sequences(toks, "doc_id", "n_tokens", SEQ_CTX,
                                num_buckets=SHARD_BUCKETS)


def text_shard_report(spark, sf_dir):
    """Per-shard manifest over the packing layout: docs assigned, the
    shard's starting offset, and the member-token sum (straddling docs
    count toward the shard that STARTS them, so member sums can exceed
    SHARD_BUDGET — the writer-side view of the concat-and-cut
    layout). A bounded groupBy on shard_id — corpus_tokens/budget
    groups."""
    sh = text_pack_shards(spark, sf_dir)
    return (sh.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.min("global_offset").alias("first_offset"),
                 F.sum("n_tokens").alias("member_tokens")))


def text_ngram_diversity(spark, sf_dir):
    """Corpus distinct-n diversity report (see operators.text.
    ngram_diversity): low distinct-2/3 ratios flag repetitive or
    template-collapsed corpora before they reach training."""
    return (text.ngram_diversity(_docs(spark, sf_dir), DIVERSITY_NS)
            .select("n", F.col("total_ngrams").cast("long").alias("total_ngrams"),
                    F.col("distinct_ngrams").cast("long").alias("distinct_ngrams"),
                    "diversity"))


def text_length_buckets(spark, sf_dir):
    """Decile-bucketed token-length profile without a global NTILE
    (see operators.text.length_bucket_stats): exact percentile
    boundaries broadcast from one aggregate, bucket assignment as a
    narrow comparison fan."""
    return (text.length_bucket_stats(_docs(spark, sf_dir), LENGTH_BUCKETS)
            .select("bucket", F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("min_tokens").cast("long").alias("min_tokens"),
                    F.col("max_tokens").cast("long").alias("max_tokens"),
                    F.col("sum_tokens").cast("long").alias("sum_tokens")))


def text_strip_boilerplate(spark, sf_dir):
    """The C4-style REMOVAL step (see operators.text.
    boilerplate_strip): tokens covered by cross-document duplicated
    13-word spans are deleted and the rest re-joined — the cleaned
    corpus the report (`text_dup_spans`) only measures."""
    return text.boilerplate_strip(_docs(spark, sf_dir))


def text_quality_rules(spark, sf_dir):
    """Gopher-style rule-based quality gate (see operators.text.
    quality_rules): named boolean rules + raw signals in one
    shuffle-free projection; `keep` is the conjunction."""
    return text.quality_rules(_docs(spark, sf_dir))


def text_bpe_train(spark, sf_dir):
    """BPE tokenizer training (see operators.text.bpe_train): learn 5
    ranked merges over the corpus word-frequency dict; the oracle
    re-runs the ENTIRE training in SQL (unrolled rounds; the greedy
    merge fold is a list_reduce over a separator-joined accumulator),
    so every rank, pair, and weight is cross-engine exact."""
    return text.bpe_train(_docs(spark, sf_dir))


def text_bpe_encode(spark, sf_dir):
    """Apply the freshly-trained BPE tokenizer back to the corpus (see
    operators.text.bpe_encode): per-doc word/char/BPE-token counts and
    the tokens-per-character compression ratio — the train-then-apply
    round trip, oracle-exact end to end."""
    return text.bpe_encode(_docs(spark, sf_dir))


def text_dup_spans(spark, sf_dir):
    """Repeated-span boilerplate report (see operators.text.
    dup_span_report): C4-style inter-document span dedup — every
    13-word window occurring in >= 2 distinct docs is duplicated text;
    per doc, the duplicated-span count and the exact interval-union
    token coverage (islands, not the double-counting sum)."""
    return text.dup_span_report(_docs(spark, sf_dir))


def text_term_counts(spark, sf_dir):
    return text.term_counts(_docs(spark, sf_dir))


def text_langid(spark, sf_dir):
    return text.predict_lang(_docs(spark, sf_dir))


def text_quality(spark, sf_dir):
    return text.quality_score(_docs(spark, sf_dir))


def text_quality_pct_rank(spark, sf_dir):
    """Per-source percent-rank normalization of the quality score — the
    cross-source-comparable signal for mixing sources whose raw score
    distributions differ (a web source's 0.6 is not a books source's
    0.6). The window is PARTITIONED by source, so it parallelizes at
    any corpus size (never the single-task global window); the
    (quality, doc_id) order key is unique, so rank == row_number on
    both engines and percent_rank = (rank-1)/(n-1) is one exact
    integer-derived division."""
    from pyspark.sql import Window as W
    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs).join(docs.select("doc_id", "source"),
                                      "doc_id")
    w = W.partitionBy("source").orderBy("quality", "doc_id")
    return q.select("doc_id", "source", "quality",
                    F.percent_rank().over(w).alias("q_pct_rank"))


def text_repetition(spark, sf_dir):
    return text.repetition_stats(_docs(spark, sf_dir))


def text_decontam(spark, sf_dir):
    """Benchmark decontamination: gram overlap of every candidate doc
    against a deterministic hash-picked ~5% 'benchmark' subset."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    bench = (hex_to_long(F.md5(F.concat(F.lit("bench:"),
                                        F.col("doc_id").cast("string"))))
             % DECON_MOD == 0)
    return dedup.benchmark_contamination(
        _docs(spark, sf_dir), bench, shingle_n=DECON_SHINGLE_N,
        threshold=DECON_THRESHOLD)


def text_decontam_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — same benchmark set, same
    output as text_decontam (a Bloom filter has no false negatives and
    survivors are exactly re-verified), so it SHARES the exact
    operator's oracle: the green row proves the bitmap prefilter
    changes the plan economics, never the answer."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    bench = (hex_to_long(F.md5(F.concat(F.lit("bench:"),
                                        F.col("doc_id").cast("string"))))
             % DECON_MOD == 0)
    return dedup.bloom_prefiltered_contamination(
        _docs(spark, sf_dir), bench, shingle_n=DECON_SHINGLE_N,
        threshold=DECON_THRESHOLD)


def text_decontam_fuzzy(spark, sf_dir):
    """FUZZY decontamination: candidates NEAR-DUPLICATING any benchmark
    document (paraphrased/edited eval leaks the exact gram-overlap pass
    under-counts) — MinHash band join of the candidate side against the
    tiny benchmark band table, exact distinct-3-gram Jaccard verify on
    candidates only, RATIONAL threshold (n_inter*den >= n_union*num),
    worst benchmark match per contaminated doc
    (operators.dedup.fuzzy_contamination). Same benchmark subset as
    text_decontam."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    bench = (hex_to_long(F.md5(F.concat(F.lit("bench:"),
                                        F.col("doc_id").cast("string"))))
             % DECON_MOD == 0)
    return dedup.fuzzy_contamination(
        _docs(spark, sf_dir), bench, JACCARD_NUM, JACCARD_DEN,
        shingle_n=SHINGLE_N, num_hashes=NUM_HASHES, bands=BANDS,
        rows_per_band=ROWS_PER_BAND)


def sim_quantize_int8(spark, sf_dir):
    return similarity.quantize_int8_report(_embs(spark, sf_dir))


def text_tfidf(spark, sf_dir):
    return text.tfidf_top_terms(_docs(spark, sf_dir), top_per_doc=TFIDF_TOPN)


def text_bm25(spark, sf_dir):
    return text.bm25_rank(_docs(spark, sf_dir), list(BM25_TERMS),
                          k1=BM25_K1, b=BM25_B, topn=BM25_TOPN)


def text_fingerprint(spark, sf_dir):
    return text.fingerprint(_docs(spark, sf_dir), shingle_n=FP_SHINGLE_N)


def text_split_assign(spark, sf_dir):
    """Deterministic train/val/test split by content-independent hash.

    The standard leak-proof split for training corpora: bucket =
    md5('split:'||doc_id) mod 100 -> 80/10/10. Pure per-row expression
    (no shuffle, no state), reproducible across engines and runs, and
    stable under corpus growth — exactly what a 100 TB pipeline needs
    (no global sort, no sampling pass).
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    h = hex_to_long(F.md5(F.concat(F.lit("split:"),
                                   F.col("doc_id").cast("string")))) % 100
    return _docs(spark, sf_dir).select(
        "doc_id", h.alias("bucket"),
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
        .alias("split"))


def text_mixture_sample(spark, sf_dir):
    """Per-source mixture sampling at deterministic per-source rates.

    Data-mixture construction: each source gets a rate (derived here
    from its numeric suffix; in production a weights table) and each
    doc keeps/drops by hash threshold — reproducible sampling with no
    RNG state, fully pushdown-able (a scan-level filter at scale).
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    docs = _docs(spark, sf_dir)
    h = hex_to_long(F.md5(F.concat(F.lit("mix:"),
                                   F.col("doc_id").cast("string")))) % 1000
    rate_pm = 100 + 45 * (F.substring("source", 4, 10).cast("int") % 20)
    return (docs.filter(h < rate_pm)
            .select("doc_id", "source", h.alias("mix_bucket")))


STRATA_QUOTA = 8


def text_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed-bigram
    bucket weights = add-one-smoothed target/raw count ratio in ppm
    (the integer-exact twin of the paper's log-likelihood ratio), per-
    doc score = mean bucket weight, selection = top DSIR_KEEP per
    source. The weight table is bounded by DSIR_BUCKETS regardless of
    corpus size, so scoring is one broadcast join — see
    operators.curation for the 100 TB shape."""
    return curation.dsir_select(_docs(spark, sf_dir), DSIR_BUCKETS,
                                DSIR_TGT_MOD, DSIR_KEEP)


def corpus_prototypes(spark, sf_dir):
    """SSL-prototypes pruning, the diversification half of D4
    (Tirumala et al. 2023): cosine-to-own-centroid prototypicality over
    the shared SemDeDup k-means cells, dropping the PROTO_DROP_TOPN
    most prototypical docs per cell — see
    operators.similarity.prototypicality."""
    return similarity.prototypicality(
        _embs(spark, sf_dir), N_CELLS, train_iters=KMEANS_ITERS,
        drop_topn=PROTO_DROP_TOPN, dim=DIM)


def text_cluster_sample(spark, sf_dir):
    """Cluster-balanced sampling — the reweight-by-semantic-region step
    corpus_topics motivates (and the D4 paper's diversified-selection
    endgame): strata are the SHARED semantic k-means cells instead of
    the source column, and each cell keeps its CELL_QUOTA docs with the
    smallest salted hash — deterministic, exactly N per semantic
    region, so no region dominates the mix regardless of raw counts.
    Same scale shape as text_stratified_sample: broadcast-centroid
    assignment, then one cell-partitioned rank window (cell-bounded
    sorts, no global window)."""
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    from pyspark.sql import Window as W
    cells = similarity.semantic_cells(_embs(spark, sf_dir), N_CELLS,
                                      train_iters=KMEANS_ITERS, dim=DIM)
    h = hex_to_long(F.md5(F.concat(F.lit("cell:"),
                                   F.col("vec_id").cast("string"))))
    w = W.partitionBy("cell").orderBy(h.asc(), F.col("vec_id").asc())
    return (cells
            .withColumn("rank_in_cell", F.row_number().over(w))
            .filter(F.col("rank_in_cell") <= CELL_QUOTA)
            .select(F.col("vec_id").alias("doc_id"),
                    F.col("cell").cast("int").alias("cell"),
                    "rank_in_cell"))


def ml_quality_calibration(spark, sf_dir):
    """Reliability diagram for the trained quality filter: the probe's
    training pass, then one bounded groupBy over predicted-score bins
    reporting mean predicted vs mean teacher score and keep counts per
    bin — the trust-but-verify step before the learned filter gates
    data at 100 TB (operators.ml.calibration_report)."""
    return ml.calibration_report(_docs(spark, sf_dir))


def text_lm_familiarity(spark, sf_dir):
    """Bigram-LM familiarity score (integer-exact perplexity-filter
    skeleton) — see ``operators.text.lm_familiarity``."""
    return text.lm_familiarity(_docs(spark, sf_dir))


def text_source_drift(spark, sf_dir):
    """Per-source token-distribution drift vs the corpus: exact
    integer total-variation (ppm) + Pearson chi-square, both computed
    without a source x vocabulary grid — see
    ``operators.text.source_drift_report``."""
    return text.source_drift_report(_docs(spark, sf_dir))


def text_stratified_sample(spark, sf_dir):
    """Exact-quota stratified sampling: per stratum (source), keep the
    QUOTA docs with the smallest salted hash — deterministic, exactly N
    per stratum (not N-in-expectation like the rate-based mixture
    sample), reproducible across engines and runs.

    The balanced-subset builder (eval sets, per-domain caps, minority
    upweighting). Scale shape: one shuffle on the stratum key, then a
    bounded per-stratum ORDER — the same rank-window pattern as
    q_top3_parts_per_brand; no global sort, no RNG state. Strata
    smaller than the quota keep all their docs.
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    from pyspark.sql import Window as W
    h = hex_to_long(F.md5(F.concat(F.lit("strat:"),
                                   F.col("doc_id").cast("string"))))
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (_docs(spark, sf_dir)
            .withColumn("rank_in_stratum", F.row_number().over(w))
            .filter(F.col("rank_in_stratum") <= STRATA_QUOTA)
            .select("doc_id", "source", "lang", "rank_in_stratum"))


def mm_manifest(spark, sf_dir):
    media = multimodal.to_media(_docs(spark, sf_dir))
    df = multimodal.media_manifest(media)
    return df.select("doc_id", "media_type",
                     F.col("n_bytes").cast("long").alias("n_bytes"), "n_chunks")


def mm_decode_features(spark, sf_dir):
    """Arrow-batched mapInPandas decode (fake codec), oracle-checked.

    The fake codec is pure deterministic byte arithmetic, so the feature
    vector is projected to flat DOUBLE columns (canonicalizer-safe) and
    reproduced bit-for-bit by the DuckDB oracle over hex(encode(text)).
    """
    media = multimodal.to_media(_docs(spark, sf_dir))
    feats = multimodal.decode_features(media, codec="fake", dim=MM_DIM)
    return feats.select(
        "doc_id", "media_type", "n_bytes",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(MM_DIM)])


def mm_decode_wav(spark, sf_dir):
    """REAL audio decode: stdlib ``wave`` RIFF container round-trip.

    The payload is containerized as an 8-bit mono WAV and decoded back
    through actual wave-chunk parsing (operators.multimodal.
    wav_decode_features); the PCM frames are the payload bytes, so the
    decoded frame count and amplitude stats are reproduced by the
    oracle over the text's byte values.
    """
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.wav_decode_features(media)


def mm_decode_image(spark, sf_dir):
    """REAL image decode: stdlib ``struct`` BMP container round-trip.

    The payload is containerized as an 8-bit grayscale BMP (64-px rows,
    zero-padded last row, bottom-up storage) and decoded back by
    walking the actual container structure (operators.multimodal.
    bmp_decode_features). The pixels are the payload bytes plus
    deterministic padding, so the decoded dims and pixel stats are
    reproduced by the oracle over the text's byte values.
    """
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.bmp_decode_features(media)


def mm_decode_png(spark, sf_dir):
    """REAL COMPRESSED image decode: stdlib ``zlib`` PNG round-trip.

    The payload is containerized as an adaptively-filtered grayscale
    PNG (32-px rows, filters None/Sub/Up/Average/Paeth cycling per
    row, DEFLATE-compressed IDAT, CRC32 on every chunk) and decoded
    back the real way (operators.multimodal.png_decode_features). The
    reconstructed pixels are the payload bytes plus zero padding, so
    the oracle over the text's byte values proves the whole
    compress -> CRC -> decompress -> unfilter path is lossless."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.png_decode_features(media)


def mm_decode_gif(spark, sf_dir):
    """REAL dictionary-codec image decode: from-scratch GIF89a LZW.

    The payload is containerized as a 256-gray GIF89a (32-px rows,
    grayscale global color table, variable-width 9->12-bit LZW with
    clear-code resets at slot 4095, <=255-byte sub-blocks, 0x3B
    trailer) and decoded back the real way — descriptor walk,
    sub-block reassembly, LZW decompression including the width
    progression and the KwKwK case, palette mapping
    (operators.multimodal.gif_decode_features). Lossless, so the
    oracle over the text's byte values proves the whole
    LZW-compress -> decompress path end to end."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.gif_decode_features(media)


def mm_decode_gzip(spark, sf_dir):
    """REAL container interop decode: RFC 1952 gzip, stdlib-compressed,
    from-scratch-decoded.

    The payload is compressed by stdlib ``gzip.compress`` (an
    independent DEFLATE implementation plus the RFC 1952 member
    framing) and decoded by the from-scratch ``_gunzip`` — full header
    grammar, raw-DEFLATE inflate, from-scratch reflected CRC-32,
    ISIZE check (operators.compression.gzip_decode_features). Decoded
    bytes == payload, so the oracle over the text's byte values proves
    the stdlib-compress -> from-scratch-decode path end to end."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return compression.gzip_decode_features(media)


def mm_decode_bz2(spark, sf_dir):
    """REAL block-sorting-codec interop decode: bzip2 (BWT + MTF +
    RLE2 + multi-table Huffman), stdlib-compressed, from-scratch-
    decoded.

    The payload is compressed by stdlib ``bz2.compress`` (libbzip2)
    and decoded by the from-scratch ``_bunzip2`` — MSB-first bit
    parse, symbol-map bitmaps, unary-MTF selectors, delta-coded code
    lengths, 50-symbol group switching, bijective-base-2 zero runs,
    counting-sort inverse BWT, RLE1 undo, per-block CRC-32/BZIP2 and
    the rotate-xor stream CRC (operators.compression.
    bz2_decode_features). Decoded bytes == payload; ``level`` and
    ``n_blocks`` additionally pin the parsed stream structure."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return compression.bz2_decode_features(media)


def mm_archive_zip(spark, sf_dir):
    """REAL archive-container interop decode: PKZIP, stdlib-packed,
    from-scratch-parsed — the corpus-shard ingest shape.

    The payload is split into 1 KiB members and packed by stdlib
    ``zipfile`` (local headers + raw-DEFLATE bodies + central
    directory + EOCD); the from-scratch ``_unzip`` back-scans for the
    EOCD record, walks the central directory, cross-checks local
    headers, inflates every member with the from-scratch raw-DEFLATE
    decoder, verifies each member's CRC-32 and sizes, and reassembles
    the payload bit-for-bit (operators.compression.
    zip_decode_features). The oracle over the text's byte values
    proves the path; n_members pins the parsed directory."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return compression.zip_decode_features(media)


def mm_archive_tgz(spark, sf_dir):
    """COMPOSED archive-stack interop decode: tar.gz, stdlib-packed,
    decoded end-to-end by two from-scratch decoders.

    The payload is split into 1 KiB members and packed by stdlib
    ``tarfile`` in ``w:gz`` mode; the from-scratch ``_gunzip`` strips
    the RFC 1952 member (header grammar, raw-DEFLATE inflate, CRC-32 +
    ISIZE), then the from-scratch ``_untar`` walks the 512-byte
    headers (octal fields, spaces-substituted checksum, pax record
    grammar) and the members reassemble bit-for-bit (operators.
    compression.tgz_decode_features). Each decoder is interop-proven
    alone; this query proves the composition."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return compression.tgz_decode_features(media)


def mm_decode_jpeg(spark, sf_dir):
    """REAL LOSSY image decode: pure stdlib+numpy baseline JPEG.

    The payload is containerized as an 8-bit grayscale baseline JFIF
    (per-block forward DCT, DC-step-1/AC-step-2 quantization, zigzag +
    DC-differential RLE, Annex-K standard-table Huffman coding with
    0xFF stuffing) and decoded back the real way — marker walk,
    Huffman tables rebuilt from the stream's own DHT segments, entropy
    decode, dequantize, inverse DCT
    (operators.multimodal.jpeg_decode_features). Lossy, so the oracle
    checks the exactly-SQL-expressible geometry plus a reconstruction
    error flag whose <=16 bound is provable from the quantization
    steps for ANY input (the observed error on this corpus is <=3)."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.jpeg_decode_features(media)


def mm_decode_video(spark, sf_dir):
    """REAL video decode: stdlib ``struct`` RIFF/AVI container round-trip.

    The payload is containerized as a minimal uncompressed 8-bit AVI
    (8x8 frames, one payload byte per pixel, zero-padded last frame)
    and decoded back by walking the actual RIFF chunk tree
    (operators.multimodal.avi_decode_frames), emitting every 4th frame
    — the 1->N fan-out of sample_frames with a real container. Frame
    pixels are fixed 64-byte payload slices, so per-frame stats are
    reproduced by the oracle over the text's byte values.
    """
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.avi_decode_frames(media)


def mm_decode_mjpeg(spark, sf_dir):
    """REAL COMPRESSED video decode: Motion-JPEG in AVI — the RIFF
    container walk composed with the from-scratch baseline-JPEG frame
    decode (operators.multimodal.mjpeg_decode_frames), 1 -> N frame
    fan-out over variable-size '00dc' chunks. Geometry is exact; the
    per-frame reconstruction-error flag carries the same provable <=16
    bound as mm_decode_jpeg."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mjpeg_decode_frames(media)


def mm_decode_flac(spark, sf_dir):
    """REAL COMPRESSED LOSSLESS audio decode: from-scratch FLAC subset
    (fixed linear predictors chosen by least |residual|, Rice-coded
    residuals, frame CRC-8/CRC-16, STREAMINFO MD5 — all verified on
    decode; operators.multimodal.flac_decode_features). The decoded
    samples ARE the payload bytes, so the oracle proves the whole
    predict -> Rice -> CRC -> integrate path lossless."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.flac_decode_features(media)


def mm_decode_flic(spark, sf_dir):
    """REAL INTER-FRAME compressed video decode: the Autodesk FLIC
    (FLC) subset — key frame RLE (FLI_BRUN/FLI_COPY) plus line-delta
    frames (FLI_LC) applied onto a persistent framebuffer
    (operators.multimodal.flic_decode_frames). The temporal-prediction
    tier MJPEG's independent frames don't exercise; lossless, so the
    per-frame max/mean of the RECONSTRUCTED pixels must equal exact
    byte math over the payload slices."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.flic_decode_frames(media)


def mm_decode_mcv(spark, sf_dir):
    """REAL MOTION-COMPENSATED video decode: the from-scratch MCV1
    codec — exhaustive SAD block-matching motion estimation at encode,
    vector-directed compensation from the previous reconstructed frame
    plus Rice-coded residuals at decode
    (operators.multimodal.mcv_decode_frames). The motion-prediction
    tier that stayed external-library-blocked through r7; lossless, so
    the per-frame max/mean of the RECONSTRUCTED pixels must equal
    exact byte math over the payload slices."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mcv_decode_frames(media)


def mm_decode_mcv2(spark, sf_dir):
    """REAL HALF-PEL motion-compensated video decode: the from-scratch
    MCV2 codec — sub-pixel block-matching estimation over a bilinearly
    interpolated half-pel plane of the previous reconstructed frame
    (H.26x half-sample rounding), Rice-coded residuals
    (operators.multimodal.mcv2_decode_frames). The sub-pixel motion
    rung the r8 VERDICT listed as still blocked; lossless, so the
    per-frame max/mean of the RECONSTRUCTED pixels must equal exact
    byte math over the payload slices."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mcv2_decode_frames(media)


def mm_decode_mcv3(spark, sf_dir):
    """REAL RATE-DECIDED, RANGE-CODED motion video decode: the
    from-scratch MCV3 codec — per-block SKIP/INTER/INTRA mode decision
    by estimated coded bits under live adaptive contexts (the
    rate-distortion decision at the lossless operating point) with
    every symbol coded by an LZMA/CABAC-shaped adaptive binary range
    coder (operators.multimodal.mcv3_decode_frames). The mode-decision
    and arithmetic-coding tiers the r8 VERDICT listed as still
    blocked; lossless, so the per-frame max/mean of the RECONSTRUCTED
    pixels must equal exact byte math over the payload slices."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mcv3_decode_frames(media)


def mm_decode_mdct(spark, sf_dir):
    """REAL LOSSY transform-audio decode: from-scratch MDCT/TDAC codec
    (50%-overlap sine window, uniform coefficient quantization,
    Rice-coded coefficients; operators.multimodal.mdct_decode_features)
    with a DERIVED reconstruction bound sqrt(2)*sqrt(N)*q/2 < 16 —
    the lossy-audio analog of the JPEG tier's provable-error contract."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mdct_decode_features(media)


def mm_decode_mcv4(spark, sf_dir):
    """REAL BIDIRECTIONAL motion-compensated video decode: the
    from-scratch MCV4 codec — MPEG-shaped B-frames predicting forward,
    backward (from a FUTURE anchor) or bidirectionally, anchors coded
    ahead of the B frames that reference them, decoder reordering back
    to display order (operators.multimodal.mcv4_decode_frames). The
    B-frame tier the VERDICT chain listed as external-library
    territory; lossless, so per-frame max/mean of the RECONSTRUCTED
    pixels must equal exact byte math over the payload slices, and the
    I/P/B frame types are pure functions of the frame count (anchors
    every 3rd frame + the last frame), so the oracle checks them
    too."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.mcv4_decode_frames(media)


def mm_decode_pac(spark, sf_dir):
    """REAL PSYCHOACOUSTIC lossy audio decode: the from-scratch PAC1
    codec — a masking model (Bark-shaped bands, asymmetric spreading
    slopes, SMR offset, absolute floor) allocates per-band quantizer
    steps over the MDC1 MDCT/TDAC core, steps travel in the stream
    behind an MP3-scfsi-style reuse flag
    (operators.multimodal.pac_decode_features). The psychoacoustic
    bit-allocation tier the VERDICT chain listed as external-library
    territory; the reconstruction error is checked against the
    PROVABLE stream-derived bound sqrt(2)*max_block||q/2||_2."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.pac_decode_features(media)


def mm_resize(spark, sf_dir):
    """Resize/transcode kernel (1 row in -> 1 row out mapInPandas shape).

    Output binary is surfaced as hex (engine-portable, canonicalizer-
    safe); the oracle recomputes the byte stride in SQL over hex pairs.
    """
    media = multimodal.to_media(_docs(spark, sf_dir))
    r = multimodal.resize_media(media, target_bytes=MM_RESIZE_BYTES, codec="fake")
    return r.select("doc_id", "media_type", "n_bytes",
                    F.hex("media").alias("media_hex"))


def mm_frames(spark, sf_dir):
    """Frame-sampling kernel (1 row in -> N rows out mapInPandas shape)."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    fr = multimodal.sample_frames(media, frame_bytes=MM_FRAME_BYTES,
                                  every_n=MM_EVERY_N, codec="fake")
    return fr.select("doc_id", "frame_idx",
                     F.hex("frame").alias("frame_hex"), "n_frames")


def dedup_phash_media(spark, sf_dir):
    """IMAGE near-duplicate detection via a perceptual hash — the
    multimodal member of the dedup suite: each document's key frame
    (the shared gray-plane frame model of the codec tier) is
    box-downsampled to an 8x8 block-sum grid and fingerprinted by the
    ring-difference dHash (bit = blocksum > its right neighbor,
    invariant to uniform brightness and order-preserving noise); pairs
    within Hamming PHASH_MAX_HAMMING are found by the pigeonhole
    16-bit-band equi-join, never an all-pairs scan
    (operators.multimodal.phash_near_pairs). Python only in the
    Arrow-batched hash kernel; all integer math, so the oracle
    recomputes the hash from raw byte values."""
    media = multimodal.to_media(_docs(spark, sf_dir))
    return multimodal.phash_near_pairs(media)


def dedup_incremental_phash(spark, sf_dir):
    """Increment-vs-corpus perceptual near-dup — the SIXTH member of
    the incremental dedup family (exact hash / MinHash near / span
    overlap / semantic / exact Jaccard / perceptual): a NEW batch of
    images band-probes the standing corpus hash index
    (operators.multimodal.phash_incremental_pairs), never a corpus
    self-join; the standing index persists through the index catalog
    (kind dedup_phash) and serves streaming micro-batches via
    foreachBatch."""
    docs = _docs(spark, sf_dir)
    new = multimodal.to_media(docs.filter(F.col("doc_id") % INC_MOD == 0))
    corpus = multimodal.to_media(
        docs.filter(F.col("doc_id") % INC_MOD != 0))
    return multimodal.phash_incremental_pairs(new, corpus)


# --- oracle SQL ----------------------------------------------------------

_TOKENS = "list_filter(string_split(trim(text), ' '), t -> t <> '')"


def _shingles_sql(n: int) -> str:
    return (f"list_transform(range(1, greatest(len(tokens)-{n - 1}, 1)+1), "
            f"i -> array_to_string(list_slice(tokens, i, i+{n - 1}), ' '))")


# minhash value = first 15 md5 hex digits as BIGINT (numeric min ==
# lexicographic min on fixed-width hex; long keeps Spark in HashAggregate)
_SIG_ITEMS = ", ".join(
    "list_min(list_transform(shingles, "
    f"s -> ('0x' || substr(md5('{i}:' || s), 1, 15))::BIGINT))"
    for i in range(NUM_HASHES))

_BAND_VALUES = ", ".join(f"({b})" for b in range(BANDS))

# bands: band b covers sig positions [b*r+1, b*r+r] (1-based)
_BAND_HASH = "md5(" + " || '|' || ".join(
    [f"CAST(sig[b*{ROWS_PER_BAND}+{r + 1}] AS VARCHAR)"
     for r in range(ROWS_PER_BAND)]) + ")"

_MINHASH_CTES = f"""
  toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
  sh AS (SELECT doc_id, {_shingles_sql(SHINGLE_N)} AS shingles FROM toks),
  sig AS (SELECT doc_id, [{_SIG_ITEMS}] AS sig FROM sh),
  banded AS (
    SELECT doc_id, sig, b, {_BAND_HASH} AS band_hash
    FROM sig, (VALUES {_BAND_VALUES}) AS t(b)),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.sig AS sig_a, b.sig AS sig_b
    FROM banded a JOIN banded b
      ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"""

_SIMHASH_BIT_TERMS = " + ".join(
    f"(CASE WHEN list_aggregate(list_transform(hs, "
    f"h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') >= 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(SIMHASH_BITS))

# in-order left-fold vector ops (matches functions.scalars.dot exactly)
_DOT = ("list_aggregate(list_transform(range(1, len({a})+1), "
        "i -> {a}[i] * {b}[i]), 'sum')")


def _cos(a: str, b: str) -> str:
    # vectors are pre-normalized (see _EMB_D's u CTE) -> cosine == dot
    return _DOT.format(a=a, b=b)


# normalize once (matches operators.similarity.unit_vectors exactly:
# double-cast, in-order norm fold, per-element division; nullif guards
# the zero-norm degenerate case identically to similarity._safe_nrm)
_EMB_D = (
    "e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings),\n"
    f"  n0 AS (SELECT vec_id, v, nullif(sqrt({_DOT.format(a='v', b='v')}), 0) AS nrm FROM e0),\n"
    "  e AS (SELECT vec_id, v, list_transform(v, x -> x / nrm) AS uv FROM n0)")

def _kmeans_ctes(train_iters: int, extra_where: str = "") -> tuple[str, str]:
    """Shared iterative Lloyd's-k-means CTE block (mirrors
    ``similarity.kmeans_centroids`` bit-for-bit: seeds are the N_CELLS
    lowest-id vectors, means are in-id-order left folds, zero-norm
    vectors excluded). Returns (joined CTE string, name of the final
    centroid CTE); callers prepend ``_EMB_D`` and build their own
    assignment/probe on top. ``extra_where`` narrows the training set
    (the incremental-semantic oracle trains on the corpus split only)."""
    ctes = [f"""
        eg AS (SELECT vec_id, uv FROM e
               WHERE uv[1] IS NOT NULL{extra_where}),
        cent0 AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, uv AS cv
          FROM (SELECT * FROM eg ORDER BY vec_id LIMIT {N_CELLS}))"""]
    cent = "cent0"
    for it in range(1, train_iters + 1):
        ctes.append(f"""
        asg{it} AS (
          SELECT vec_id, cell, uv FROM (
            SELECT eg.vec_id, c.cell, eg.uv,
                   ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                       ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM eg, {cent} c) WHERE rn = 1),
        dims{it} AS (
          SELECT cell, pos,
                 list_aggregate(list(val ORDER BY vec_id), 'sum')
                   / COUNT(*) AS m
          FROM (SELECT vec_id, cell, i AS pos, uv[i] AS val
                FROM asg{it}, range(1, {DIM} + 1) t(i))
          GROUP BY cell, pos),
        cent{it} AS (
          SELECT cell, list(m ORDER BY pos) AS cv
          FROM dims{it} GROUP BY cell)""")
        cent = f"cent{it}"
    return ",".join(ctes), cent


def _ivf_trained_oracle(train_iters: int, nprobe: int = 1) -> str:
    """Iterative Lloyd's-k-means oracle (CTEs shared via
    ``_kmeans_ctes``), then the standard IVF probe with the trained
    centroids. ``nprobe`` widens the query-side probe to the
    ``rn <= nprobe`` nearest cells (corpus placement stays rn = 1),
    exactly like ``similarity.topk_ivf(nprobe=...)``.
    """
    km, cent = _kmeans_ctes(train_iters)
    return f"""
        WITH {_EMB_D},{km},
        assigned AS (
          SELECT vec_id, cell, uv FROM (
            SELECT e.vec_id, c.cell, e.uv,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_DOT.format(a='e.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM e, {cent} c) WHERE rn = 1),
        qprobe AS (
          SELECT vec_id, cell, uv FROM (
            SELECT e.vec_id, c.cell, e.uv,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_DOT.format(a='e.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM e, {cent} c
            WHERE e.vec_id % {QUERY_MOD} = 0) WHERE rn <= {nprobe}),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM qprobe q JOIN assigned c
            ON q.cell = c.cell AND q.vec_id <> c.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rn <= {TOPK}"""


_L2SQ = ("list_aggregate(list_transform(range(1, len({a})+1), "
         "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')")


def _pq_oracle(iters: int, k: int = TOPK) -> str:
    """Product-quantization ADC oracle. Mirrors ``similarity.topk_pq``
    bit-for-bit: per-subspace seeds are the PQ_CODES lowest-id
    subvectors, Lloyd's means are in-id-order left folds, assignment
    ties to the smallest code, the final ADC sum folds in subspace
    order, zero-norm vectors excluded up front. ``k`` parameterizes
    the emitted depth (the rerank oracle asks for the wider
    shortlist).
    """
    ctes = [f"""
        eg AS (SELECT vec_id, uv FROM e WHERE uv[1] IS NOT NULL),
        sub AS (
          SELECT vec_id, m,
                 list_transform(range(1, {PQ_SUB_DIM} + 1),
                                i -> uv[m * {PQ_SUB_DIM} + i]) AS sv
          FROM eg, range(0, {PQ_M}) t(m)),
        cb0 AS (
          SELECT m, code, sv AS cv FROM (
            SELECT m, sv,
                   ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) AS code
            FROM sub) WHERE code <= {PQ_CODES})"""]
    cb = "cb0"
    for it in range(1, iters + 1):
        ctes.append(f"""
        asg{it} AS (
          SELECT vec_id, m, code, sv FROM (
            SELECT s.vec_id, s.m, c.code, s.sv,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {_L2SQ.format(a='s.sv', b='c.cv')} ASC,
                                c.code ASC) AS rn
            FROM sub s JOIN {cb} c ON s.m = c.m) WHERE rn = 1),
        dims{it} AS (
          SELECT m, code, pos,
                 list_aggregate(list(val ORDER BY vec_id), 'sum')
                   / COUNT(*) AS mu
          FROM (SELECT vec_id, m, code, i AS pos, sv[i] AS val
                FROM asg{it}, range(1, {PQ_SUB_DIM} + 1) t(i))
          GROUP BY m, code, pos),
        cb{it} AS (
          SELECT m, code, list(mu ORDER BY pos) AS cv
          FROM dims{it} GROUP BY m, code)""")
        cb = f"cb{it}"
    return f"""
        WITH {_EMB_D},{','.join(ctes)},
        codes AS (
          SELECT vec_id AS neighbor_id, m, code FROM (
            SELECT s.vec_id, s.m, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {_L2SQ.format(a='s.sv', b='c.cv')} ASC,
                                c.code ASC) AS rn
            FROM sub s JOIN {cb} c ON s.m = c.m) WHERE rn = 1),
        dtab AS (
          SELECT s.vec_id AS query_id, s.m, c.code,
                 {_L2SQ.format(a='s.sv', b='c.cv')} AS d
          FROM sub s JOIN {cb} c ON s.m = c.m
          WHERE s.vec_id % {QUERY_MOD} = 0),
        scored AS (
          SELECT q.query_id, n.neighbor_id,
                 list_aggregate(list(q.d ORDER BY q.m), 'sum') AS adc_dist
          FROM dtab q JOIN codes n ON q.m = n.m AND q.code = n.code
          WHERE q.query_id <> n.neighbor_id
          GROUP BY q.query_id, n.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adc_dist
        FROM ranked WHERE rn <= {k}"""


def _ivfpq_oracle(coarse_iters: int, pq_iters: int, nprobe: int,
                  k: int = TOPK) -> str:
    """IVF-PQ oracle: the coarse Lloyd's CTEs (shared via
    ``_kmeans_ctes``), corpus placement, RESIDUALS against the placed
    centroid, per-subspace Lloyd's codebooks trained on those
    residuals (seeds = lowest-id residual subvectors, in-id-order mean
    folds), then the probe: per query residual per probed cell, ADC
    table, and a (cell, m, code) join against the inverted lists —
    mirrors ``similarity.topk_ivfpq`` bit-for-bit.
    """
    km, cent = _kmeans_ctes(coarse_iters)
    ctes = [f"""
        placed AS (
          SELECT vec_id, cell, uv FROM (
            SELECT eg.vec_id, c.cell, eg.uv,
                   ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                       ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM eg, {cent} c) WHERE rn = 1),
        resid AS (
          SELECT p.vec_id, p.cell,
                 list_transform(range(1, {DIM} + 1),
                                i -> p.uv[i] - c.cv[i]) AS rv
          FROM placed p JOIN {cent} c ON p.cell = c.cell),
        rsub AS (
          SELECT vec_id, cell, m,
                 list_transform(range(1, {PQ_SUB_DIM} + 1),
                                i -> rv[m * {PQ_SUB_DIM} + i]) AS sv
          FROM resid, range(0, {PQ_M}) t(m)),
        cb0 AS (
          SELECT m, code, sv AS cv FROM (
            SELECT m, sv,
                   ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) AS code
            FROM rsub) WHERE code <= {PQ_CODES})"""]
    cb = "cb0"
    for it in range(1, pq_iters + 1):
        ctes.append(f"""
        pasg{it} AS (
          SELECT vec_id, m, code, sv FROM (
            SELECT s.vec_id, s.m, c.code, s.sv,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {_L2SQ.format(a='s.sv', b='c.cv')} ASC,
                                c.code ASC) AS rn
            FROM rsub s JOIN {cb} c ON s.m = c.m) WHERE rn = 1),
        pdims{it} AS (
          SELECT m, code, pos,
                 list_aggregate(list(val ORDER BY vec_id), 'sum')
                   / COUNT(*) AS mu
          FROM (SELECT vec_id, m, code, i AS pos, sv[i] AS val
                FROM pasg{it}, range(1, {PQ_SUB_DIM} + 1) t(i))
          GROUP BY m, code, pos),
        cb{it} AS (
          SELECT m, code, list(mu ORDER BY pos) AS cv
          FROM pdims{it} GROUP BY m, code)""")
        cb = f"cb{it}"
    return f"""
        WITH {_EMB_D},{km},{','.join(ctes)},
        codes AS (
          SELECT vec_id AS neighbor_id, cell, m, code FROM (
            SELECT s.vec_id, s.cell, s.m, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                       ORDER BY {_L2SQ.format(a='s.sv', b='c.cv')} ASC,
                                c.code ASC) AS rn
            FROM rsub s JOIN {cb} c ON s.m = c.m) WHERE rn = 1),
        qprobe AS (
          SELECT vec_id, cell, uv FROM (
            SELECT eg.vec_id, c.cell, eg.uv,
                   ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                       ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM eg, {cent} c
            WHERE eg.vec_id % {QUERY_MOD} = 0) WHERE rn <= {nprobe}),
        qres AS (
          SELECT q.vec_id AS query_id, q.cell,
                 list_transform(range(1, {DIM} + 1),
                                i -> q.uv[i] - c.cv[i]) AS rv
          FROM qprobe q JOIN {cent} c ON q.cell = c.cell),
        qsub AS (
          SELECT query_id, cell, m,
                 list_transform(range(1, {PQ_SUB_DIM} + 1),
                                i -> rv[m * {PQ_SUB_DIM} + i]) AS sv
          FROM qres, range(0, {PQ_M}) t(m)),
        dtab AS (
          SELECT s.query_id, s.cell, s.m, c.code,
                 {_L2SQ.format(a='s.sv', b='c.cv')} AS d
          FROM qsub s JOIN {cb} c ON s.m = c.m),
        scored AS (
          SELECT q.query_id, n.neighbor_id,
                 list_aggregate(list(q.d ORDER BY q.m), 'sum') AS adc_dist
          FROM dtab q JOIN codes n
            ON q.cell = n.cell AND q.m = n.m AND q.code = n.code
          WHERE q.query_id <> n.neighbor_id
          GROUP BY q.query_id, n.neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, adc_dist
        FROM ranked WHERE rn <= {k}"""


_PLANES_CTE = f"""
  planes AS (
    SELECT j, list(val ORDER BY i) AS p
    FROM (
      SELECT j, i,
             (('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
              % 1000) / 1000.0 - 0.5 AS val
      FROM range(0, {NUM_PLANES}) t1(j), range(0, {DIM}) t2(i))
    GROUP BY j)"""

ORACLES = {
    "dedup_quality_keeper": None,  # assigned below (composes text_quality)
    "dedup_exact": """
        SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1""",
    "dedup_minhash_lsh": f"""
        WITH {_MINHASH_CTES}
        SELECT doc_a, doc_b,
               len(list_filter(range(1, {NUM_HASHES}+1), i -> sig_a[i] = sig_b[i]))
                 / {float(NUM_HASHES)} AS est_jaccard
        FROM pairs""",
    "dedup_incremental": f"""
        WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        b AS (SELECT * FROM d WHERE doc_id % {INC_MOD} = 0),
        c AS (SELECT DISTINCT h FROM d WHERE doc_id % {INC_MOD} <> 0),
        f AS (SELECT h, MIN(doc_id) AS first_id FROM b GROUP BY 1)
        SELECT b.doc_id,
               CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                    WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                    ELSE 'unique' END AS status
        FROM b LEFT JOIN c ON b.h = c.h JOIN f ON b.h = f.h""",
    "dedup_incremental_near": f"""
        WITH {_MINHASH_CTES},
        np AS (
          SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS corpus_doc_id,
                          a.sig AS sig_a, b.sig AS sig_b
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.band_hash = b.band_hash
           AND a.doc_id % {INC_MOD} = 0 AND b.doc_id % {INC_MOD} <> 0)
        SELECT doc_id, corpus_doc_id,
               len(list_filter(range(1, {NUM_HASHES}+1),
                               i -> sig_a[i] = sig_b[i]))
                 / {float(NUM_HASHES)} AS est_jaccard
        FROM np""",
    "dedup_source_overlap": f"""
        WITH {_MINHASH_CTES},
        p AS (SELECT doc_a, doc_b,
                     len(list_filter(range(1, {NUM_HASHES}+1),
                                     i -> sig_a[i] = sig_b[i]))
                       / {float(NUM_HASHES)} AS est_jaccard
              FROM pairs),
        s AS (SELECT doc_id, source FROM documents)
        SELECT least(sa.source, sb.source) AS source_lo,
               greatest(sa.source, sb.source) AS source_hi,
               COUNT(*) AS n_pairs, MAX(est_jaccard) AS max_est_jaccard
        FROM p JOIN s sa ON sa.doc_id = p.doc_a
               JOIN s sb ON sb.doc_id = p.doc_b
        GROUP BY 1, 2""",
    "dedup_simhash": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
        th AS (SELECT doc_id,
                      list_transform(tokens,
                          t -> ('0x' || substr(md5(t), 1, 4))::BIGINT) AS hs
               FROM toks)
        SELECT doc_id, CAST({_SIMHASH_BIT_TERMS} AS BIGINT) AS simhash FROM th""",
    "dedup_ngram_jaccard": f"""
        WITH {_MINHASH_CTES},
        grams AS (
          SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY 1),
        inter AS (
          SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
          FROM (SELECT DISTINCT doc_a, doc_b FROM pairs) p
          JOIN grams ga ON ga.doc_id = p.doc_a
          JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
          GROUP BY 1, 2)
        SELECT i.doc_a, i.doc_b,
               i.ni / (sa.ng + sb.ng - i.ni) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.ni / (sa.ng + sb.ng - i.ni) >= {JACCARD_THRESHOLD}""",
    "dedup_clusters": f"""
        WITH RECURSIVE {_MINHASH_CTES},
        e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT a AS id FROM e),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
        comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        szs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
        SELECT c.doc_id, c.cluster_id, s.cluster_size,
               c.doc_id = c.cluster_id AS is_keeper
        FROM comp c JOIN szs s USING (cluster_id)""",
    "dedup_embedding_cosine": f"""
        WITH {_EMB_D}
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_cos('a.uv', 'b.uv')} AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE {_cos('a.uv', 'b.uv')} >= {COS_DUP_THRESHOLD}""",
    "sim_topk_bruteforce": f"""
        WITH {_EMB_D},
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM e q JOIN e c ON q.vec_id <> c.vec_id
          WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rn <= {TOPK}""",
    "sim_knn_label_vote": f"""
        WITH {_EMB_D},{_PLANES_CTE},
        sigs AS (
          SELECT vec_id, uv,
                 CAST(SUM(CASE WHEN {_DOT.format(a='v', b='p')} >= 0
                          THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
          FROM e, planes GROUP BY vec_id, v, uv),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM sigs q JOIN sigs c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored),
        votes AS (
          SELECT t.query_id, l.label AS n_label, COUNT(*) AS votes
          FROM ranked t JOIN embeddings l ON l.vec_id = t.neighbor_id
          WHERE t.rn <= {TOPK}
          GROUP BY 1, 2),
        pred AS (
          SELECT query_id, n_label, votes,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY votes DESC, n_label ASC) AS prn
          FROM votes)
        SELECT p.query_id, q.label AS true_label, p.n_label AS pred_label,
               p.votes, p.n_label = q.label AS is_correct
        FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
        WHERE p.prn = 1""",
    "sim_knn_label_vote_exact": f"""
        WITH {_EMB_D},
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM e q JOIN e c ON q.vec_id <> c.vec_id
          WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored),
        votes AS (
          SELECT t.query_id, l.label AS n_label, COUNT(*) AS votes
          FROM ranked t JOIN embeddings l ON l.vec_id = t.neighbor_id
          WHERE t.rn <= {TOPK}
          GROUP BY 1, 2),
        pred AS (
          SELECT query_id, n_label, votes,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY votes DESC, n_label ASC) AS prn
          FROM votes)
        SELECT p.query_id, q.label AS true_label, p.n_label AS pred_label,
               p.votes, p.n_label = q.label AS is_correct
        FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
        WHERE p.prn = 1""",
    "sim_ann_lsh": f"""
        WITH {_EMB_D},{_PLANES_CTE},
        sigs AS (
          SELECT vec_id, uv,
                 CAST(SUM(CASE WHEN {_DOT.format(a='v', b='p')} >= 0
                          THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
          FROM e, planes GROUP BY vec_id, v, uv),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM sigs q JOIN sigs c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rn <= {TOPK}""",
    "dedup_cosine_lsh": f"""
        WITH {_EMB_D},{_PLANES_CTE},
        sigs AS (
          SELECT vec_id, uv,
                 CAST(SUM(CASE WHEN {_DOT.format(a='v', b='p')} >= 0
                          THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
          FROM e, planes GROUP BY vec_id, v, uv)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_cos('a.uv', 'b.uv')} AS cos_sim
        FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos('a.uv', 'b.uv')} >= {COS_DUP_THRESHOLD}""",
    "sim_topk_ivf": f"""
        WITH {_EMB_D},
        cent AS (
          SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, uv AS cv
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT {N_CELLS})),
        assigned AS (
          SELECT vec_id, cell, uv FROM (
            SELECT e.vec_id, c.cell, e.uv,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {_DOT.format(a='e.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM e, cent c) WHERE rn = 1),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_cos('q.uv', 'c.uv')} AS cos_sim
          FROM assigned q JOIN assigned c
            ON q.cell = c.cell AND q.vec_id <> c.vec_id
          WHERE q.vec_id % {QUERY_MOD} = 0),
        ranked AS (
          SELECT query_id, neighbor_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
          FROM scored)
        SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
        FROM ranked WHERE rn <= {TOPK}""",
    "sim_topk_ivf_trained": None,  # filled below (_ivf_trained_oracle)
    "text_bpe_stats": """
        SELECT doc_id,
               len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
                 AS n_bpe_tokens,
               len(list_distinct(
                   regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')))
                 AS n_bpe_distinct
        FROM documents""",
    "text_winnow": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
        sh AS (SELECT doc_id, {_shingles_sql(WINNOW_N)} AS shingles FROM toks),
        h AS (SELECT doc_id,
                     list_transform(shingles,
                         s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
              FROM sh),
        m AS (SELECT doc_id,
                     list_transform(
                         range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
                         i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1}))) AS mins
              FROM h)
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(mins)), '|') AS fp
        FROM m""",
    "text_token_stats": f"""
        WITH toks AS (SELECT doc_id, text, {_TOKENS} AS tokens FROM documents)
        SELECT doc_id, len(tokens) AS n_tokens,
               len(list_distinct(tokens)) AS n_distinct,
               length(replace(text, ' ', '')) AS n_token_chars
        FROM toks""",
    # the oracle's single global window is the CORRECT-at-sf0.01 twin
    # of the Spark side's two-phase prefix sum (same (bucket, hash,
    # id) total order); the asymmetry is the module-docstring feature
    "text_pack_shards": f"""
        WITH toks AS (SELECT doc_id, len({_TOKENS}) AS n_tokens
                      FROM documents),
        h AS (SELECT doc_id, n_tokens,
                     ('0x' || substr(md5('shard:' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS hh
              FROM toks),
        o AS (SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                         ORDER BY hh % {SHARD_BUCKETS}, hh, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS global_offset
              FROM h)
        SELECT doc_id, n_tokens, global_offset,
               global_offset // {SHARD_BUDGET} AS shard_id
        FROM o""",
    # sequence packing: same order/offset CTEs as text_pack_shards,
    # then each doc's token range [off, off+n) sliced into the SEQ_CTX
    # windows it overlaps — integer DIV and range arithmetic only
    "text_pack_sequences": f"""
        WITH toks AS (SELECT doc_id, len({_TOKENS}) AS n_tokens
                      FROM documents),
        h AS (SELECT doc_id, n_tokens,
                     ('0x' || substr(md5('shard:' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS hh
              FROM toks),
        o AS (SELECT doc_id, n_tokens,
                     CAST(COALESCE(SUM(n_tokens) OVER (
                         ORDER BY hh % {SHARD_BUCKETS}, hh, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS global_offset
              FROM h),
        s AS (SELECT doc_id, n_tokens, global_offset FROM o
              WHERE n_tokens > 0),
        x AS (SELECT doc_id, n_tokens, global_offset,
                     unnest(range(global_offset // {SEQ_CTX},
                                  (global_offset + n_tokens - 1)
                                    // {SEQ_CTX} + 1)) AS seq_id
              FROM s)
        SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
               CAST(greatest(seq_id * {SEQ_CTX} - global_offset, 0)
                    AS BIGINT) AS start_in_doc,
               CAST(least((seq_id + 1) * {SEQ_CTX},
                          global_offset + n_tokens)
                    - greatest(seq_id * {SEQ_CTX}, global_offset)
                    AS BIGINT) AS n_in_seq
        FROM x""",
    # distinct-n diversity: one leg per n; gram construction mirrors
    # word_shingles (positions 1..greatest(len-n+1, 1), slices
    # truncated at the array end), hashes mirror hex_to_long
    "text_ngram_diversity": "\nUNION ALL\n".join(f"""
        SELECT n, total_ngrams, distinct_ngrams,
               distinct_ngrams / total_ngrams AS diversity
        FROM (SELECT {n} AS n, count(*) AS total_ngrams,
                     count(DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT)
                         AS distinct_ngrams
              FROM (SELECT unnest(list_transform(
                        generate_series(1, greatest(len(tk) - {n - 1}, 1)),
                        i -> array_to_string(list_slice(tk, i, i + {n - 1}),
                                             ' '))) AS g
                    FROM (SELECT {_TOKENS} AS tk FROM documents)))"""
                                                 for n in (1, 2, 3)),
    # decile buckets from exact interpolated percentiles
    # (quantile_cont == Spark's percentile: same (n-1)*p definition)
    "text_length_buckets": f"""
        WITH l AS (SELECT len({_TOKENS}) AS tok FROM documents),
        b AS (SELECT quantile_cont(tok,
                  [{', '.join(repr(i / 10) for i in range(1, 10))}]) AS bs
              FROM l)
        SELECT bucket, count(*) AS n_docs,
               CAST(min(tok) AS BIGINT) AS min_tokens,
               CAST(max(tok) AS BIGINT) AS max_tokens,
               CAST(sum(tok) AS BIGINT) AS sum_tokens
        FROM (SELECT tok, 1 + {' + '.join(
                  f'(CASE WHEN tok > bs[{i}] THEN 1 ELSE 0 END)'
                  for i in range(1, 10))} AS bucket
              FROM l CROSS JOIN b)
        GROUP BY 1""",
    "text_term_counts": f"""
        SELECT term, COUNT(*) AS cnt
        FROM (SELECT unnest({_TOKENS}) AS term FROM documents)
        GROUP BY 1""",
    "text_langid": None,  # filled below (needs marker lists)
    "text_quality": f"""
        WITH toks AS (SELECT doc_id, text, {_TOKENS} AS tokens FROM documents),
        m AS (SELECT doc_id, len(tokens) AS n, len(list_distinct(tokens)) AS nd,
                     length(replace(text, ' ', '')) AS chars
              FROM toks)
        SELECT doc_id,
               0.4 * least(n / 100.0, 1.0)
               + 0.4 * (nd / n)
               + 0.2 * least((chars / n) / 8.0, 1.0) AS quality
        FROM m""",
    "text_quality_pct_rank": f"""
        WITH toks AS (SELECT doc_id, source, text, {_TOKENS} AS tokens
                      FROM documents),
        m AS (SELECT doc_id, source, len(tokens) AS n,
                     len(list_distinct(tokens)) AS nd,
                     length(replace(text, ' ', '')) AS chars
              FROM toks),
        q AS (SELECT doc_id, source,
                     0.4 * least(n / 100.0, 1.0)
                     + 0.4 * (nd / n)
                     + 0.2 * least((chars / n) / 8.0, 1.0) AS quality
              FROM m)
        SELECT doc_id, source, quality,
               percent_rank() OVER (PARTITION BY source
                                    ORDER BY quality, doc_id) AS q_pct_rank
        FROM q""",
    "text_repetition": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
        base AS (
          SELECT doc_id,
                 (len(tokens) - len(list_distinct(tokens))) / len(tokens)
                   AS dup_token_frac
          FROM toks),
        sh2 AS (SELECT doc_id, {_shingles_sql(2)} AS shingles FROM toks),
        sh3 AS (SELECT doc_id, {_shingles_sql(3)} AS shingles FROM toks),
        f2 AS (SELECT doc_id, MAX(c) / SUM(c) AS top_bigram_frac
               FROM (SELECT doc_id, g, COUNT(*) AS c
                     FROM (SELECT doc_id, unnest(shingles) AS g FROM sh2)
                     GROUP BY 1, 2)
               GROUP BY doc_id),
        f3 AS (SELECT doc_id, MAX(c) / SUM(c) AS top_trigram_frac
               FROM (SELECT doc_id, g, COUNT(*) AS c
                     FROM (SELECT doc_id, unnest(shingles) AS g FROM sh3)
                     GROUP BY 1, 2)
               GROUP BY doc_id)
        SELECT b.doc_id, b.dup_token_frac, f2.top_bigram_frac,
               f3.top_trigram_frac
        FROM base b JOIN f2 USING (doc_id) JOIN f3 USING (doc_id)""",
    "text_decontam": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct({_shingles_sql(DECON_SHINGLE_N)}) AS shingles
               FROM toks),
        fl AS (SELECT doc_id, shingles,
                      ('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)),
                                      1, 15))::BIGINT % {DECON_MOD} = 0 AS isb
               FROM sh),
        gh AS (SELECT doc_id, isb, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
               FROM (SELECT doc_id, isb, unnest(shingles) AS g FROM fl)),
        bench AS (SELECT DISTINCT gh FROM gh WHERE isb),
        agg AS (SELECT c.doc_id, COUNT(*) AS n_grams,
                       CAST(SUM(CASE WHEN bench.gh IS NULL THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_overlap
                FROM (SELECT doc_id, gh FROM gh WHERE NOT isb) c
                LEFT JOIN bench ON c.gh = bench.gh
                GROUP BY c.doc_id)
        SELECT doc_id, n_grams, n_overlap,
               n_overlap / n_grams AS contamination,
               n_overlap / n_grams >= {DECON_THRESHOLD} AS is_contaminated
        FROM agg""",
    "text_tfidf": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
                  FROM tf GROUP BY term),
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        scored AS (SELECT doc_id, term,
                          CAST(tf AS DOUBLE) * (n_docs - df + 0.5) / (df + 0.5)
                            AS tfidf
                   FROM tf JOIN dfreq USING (term), n),
        r AS (SELECT doc_id, term, tfidf,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term ASC) AS rank
              FROM scored)
        SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= {TFIDF_TOPN}""",
    "text_bm25": None,  # filled below (_bm25_oracle)
    "text_fingerprint": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
        sh AS (SELECT doc_id, {_shingles_sql(FP_SHINGLE_N)} AS shingles FROM toks)
        SELECT doc_id,
               list_min(list_transform(shingles,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS fingerprint
        FROM sh""",
    "text_split_assign": """
        SELECT doc_id,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 AS bucket,
               CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 80 THEN 'train'
                    WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""",
    "text_mixture_sample": """
        SELECT doc_id, source,
               ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 1000 AS mix_bucket
        FROM documents
        WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000
              < 100 + 45 * (TRY_CAST(substr(source, 4, 10) AS INT) % 20)""",
    # temperature mixture: integer token sums, IEEE-correctly-rounded
    # sqrt on both engines, in-source-order normalizer fold
    "text_mixture_plan": f"""
        WITH t AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len({_TOKENS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        w AS (SELECT source, n_docs, n_tokens,
                     sqrt(CAST(n_tokens AS DOUBLE)) AS w
              FROM t),
        tot AS (SELECT list_aggregate(list(w ORDER BY source), 'sum')
                  AS tw FROM w)
        SELECT source, n_docs, n_tokens, w AS weight,
               w / tw AS share,
               (w / tw) * {float(MIX_EPOCH_TOKENS)} AS epoch_tokens
        FROM w, tot""",
    "text_stratified_sample": f"""
        WITH ranked AS (
          SELECT doc_id, source, lang,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                            doc_id) AS rank_in_stratum
          FROM documents)
        SELECT doc_id, source, lang, rank_in_stratum
        FROM ranked WHERE rank_in_stratum <= {STRATA_QUOTA}""",
    "text_lm_familiarity": """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(trim(text), ' '), t -> t <> '') AS tk
          FROM documents),
        bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tk)),
                   i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT))
                   AS bgh
          FROM toks WHERE len(tk) >= 2),
        counts AS (SELECT bgh, count(*) AS c FROM bg GROUP BY 1),
        per_doc AS (
          SELECT doc_id, count(*) AS n_bg, CAST(sum(c) AS BIGINT) AS sum_c,
                 CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_repeated
          FROM bg JOIN counts USING (bgh) GROUP BY 1)
        SELECT d.doc_id, coalesce(n_bg, 0) AS n_bg,
               coalesce(sum_c, 0) AS sum_c,
               coalesce(n_repeated, 0) AS n_repeated,
               CASE WHEN coalesce(n_bg, 0) = 0 THEN 0
                    ELSE (1000000 * n_repeated) // n_bg END AS familiarity_ppm
        FROM documents d LEFT JOIN per_doc USING (doc_id)""",
    "mm_manifest": f"""
        SELECT doc_id, 'application/octet-stream' AS media_type,
               octet_length(encode(text)) AS n_bytes,
               CAST(ceil(octet_length(encode(text)) / {float(multimodal.CHUNK_BYTES)})
                    AS BIGINT) AS n_chunks
        FROM documents""",
    # the fake media codecs are deterministic byte arithmetic -> fully
    # SQL-expressible over hex(encode(text)) hex-pair indexing
    "mm_decode_features": f"""
        WITH h AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents)
        SELECT doc_id, 'application/octet-stream' AS media_type,
               n AS n_bytes,
               CAST(n AS DOUBLE) AS f0,
               CAST(CASE WHEN n > 0 THEN ('0x' || substr(hx, 1, 2))::INT
                         ELSE 0 END AS DOUBLE) AS f1,
               CAST(CASE WHEN n > 0 THEN ('0x' || substr(hx, 2*n - 1, 2))::INT
                         ELSE 0 END AS DOUBLE) AS f2,
               CAST(COALESCE(list_aggregate(list_transform(range(0, least(n, 64)),
                        i -> ('0x' || substr(hx, 2*i + 1, 2))::BIGINT), 'sum'), 0)
                    % 997 AS DOUBLE) AS f3,
               {', '.join(f'CAST((n >> {s}) & 255 AS DOUBLE) AS f{s + 4}'
                          for s in range(MM_DIM - 4))}
        FROM h""",
    # byte list derives from hex(encode(text)) pairs — actual UTF-8
    # octets, NOT codepoints — so it agrees with the kernel's view of
    # the payload even for non-ASCII text
    "mm_decode_wav": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents)
        SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
               {multimodal.WAV_RATE} AS sample_rate,
               1 AS n_channels, 1 AS samp_width,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_amp,
               CASE WHEN n > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                    ELSE 0.0 END AS mean_amp
        FROM b""",
    # each frame is a fixed 64-byte payload slice (last frame
    # zero-padded to 64, so the mean divides by the constant frame
    # size); every 4th frame is emitted, like the fake frame sampler
    "mm_decode_video": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents),
        f AS (SELECT doc_id, bytes,
                     CASE WHEN n = 0 THEN 0
                          ELSE greatest(1, CAST(ceil(n / {float(multimodal.AVI_W * multimodal.AVI_H)}) AS BIGINT))
                     END AS nf
              FROM b)
        SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
               {multimodal.AVI_W} AS width, {multimodal.AVI_H} AS height,
               {multimodal.AVI_FPS_US} AS us_per_frame,
               CAST(COALESCE(list_max(list_slice(bytes, 64*i + 1, 64*i + 64)), 0)
                    AS INT) AS max_px,
               COALESCE(list_aggregate(list_slice(bytes, 64*i + 1, 64*i + 64),
                                       'sum'), 0)::DOUBLE / 64 AS mean_px
        FROM (SELECT doc_id, bytes, nf, unnest(range(0, nf, {multimodal.AVI_EVERY_N})) AS i
              FROM f)""",
    # pixels are the UTF-8 payload bytes + zero padding to a full last
    # 64-px row; dims and stats are exact byte math over that layout
    "mm_decode_image": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents),
        d AS (SELECT doc_id, n, bytes,
                     CAST(ceil(n / {float(multimodal.BMP_WIDTH)}) AS BIGINT)
                       AS h
              FROM b)
        SELECT doc_id, {multimodal.BMP_WIDTH} AS width, CAST(h AS INT) AS height,
               8 AS bpp, h * {multimodal.BMP_WIDTH} AS n_px,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_px,
               CASE WHEN h > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE
                         / (h * {multimodal.BMP_WIDTH})
                    ELSE 0.0 END AS mean_px
        FROM d""",
    # pixels == payload bytes + zero pad to a full 32-px row: the
    # lossless-roundtrip proof for the zlib/PNG codec (same byte-list
    # machinery as mm_decode_image, PNG_WIDTH instead of BMP_WIDTH)
    "mm_decode_png": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents),
        d AS (SELECT doc_id, n, bytes,
                     CAST(ceil(n / {float(multimodal.PNG_WIDTH)}) AS BIGINT)
                       AS h
              FROM b)
        SELECT doc_id, {multimodal.PNG_WIDTH} AS width, CAST(h AS INT) AS height,
               8 AS bit_depth, 0 AS color_type, h * {multimodal.PNG_WIDTH} AS n_px,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_px,
               CASE WHEN h > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE
                         / (h * {multimodal.PNG_WIDTH})
                    ELSE 0.0 END AS mean_px
        FROM d""",
    # GIF is lossless like PNG: decoded pixels == payload + zero pad
    # (same oracle machinery, GIF_WIDTH row shape, 256-entry palette)
    "mm_decode_gif": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents),
        d AS (SELECT doc_id, n, bytes,
                     CAST(ceil(n / {float(multimodal.GIF_WIDTH)}) AS BIGINT)
                       AS h
              FROM b)
        SELECT doc_id, {multimodal.GIF_WIDTH} AS width, CAST(h AS INT) AS height,
               256 AS n_colors, h * {multimodal.GIF_WIDTH} AS n_px,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_px,
               CASE WHEN h > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE
                         / (h * {multimodal.GIF_WIDTH})
                    ELSE 0.0 END AS mean_px
        FROM d""",
    # gzip/bzip2 are pure byte codecs (no row containerization):
    # decoded bytes == the payload exactly, so the stats need no
    # padding arithmetic; the structural columns (n_members, level,
    # n_blocks) are format constants the decoder must have parsed
    "mm_decode_gzip": """
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents)
        SELECT doc_id, n AS n_bytes, 1 AS n_members,
               CAST(COALESCE(list_aggregate(bytes, 'sum'), 0) AS BIGINT)
                 AS sum_bytes,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_byte,
               CASE WHEN n > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                    ELSE 0.0 END AS mean_byte
        FROM b""",
    # libbzip2 emits zero blocks for an empty payload, one 900k block
    # otherwise (level 9; testdata docs are far under the block size)
    "mm_decode_bz2": """
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents)
        SELECT doc_id, n AS n_bytes, 9 AS level,
               CASE WHEN n > 0 THEN 1 ELSE 0 END AS n_blocks,
               CAST(COALESCE(list_aggregate(bytes, 'sum'), 0) AS BIGINT)
                 AS sum_bytes,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_byte,
               CASE WHEN n > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                    ELSE 0.0 END AS mean_byte
        FROM b""",
    # the zip corpus-shard story: 1 KiB members, so the member count
    # is the chunk count; decoded reassembly == payload exactly
    "mm_archive_zip": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents)
        SELECT doc_id,
               CAST(ceil(n / {float(compression.ZIP_PART_BYTES)}) AS INT)
                 AS n_members,
               n AS n_bytes,
               CAST(COALESCE(list_aggregate(bytes, 'sum'), 0) AS BIGINT)
                 AS sum_bytes,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_byte,
               CASE WHEN n > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                    ELSE 0.0 END AS mean_byte
        FROM b""",
    # tar.gz shares the zip shard story (1 KiB members) — identical
    # derivation, different container stack under test
    "mm_archive_tgz": f"""
        WITH b AS (
          SELECT doc_id,
                 octet_length(encode(text)) AS n,
                 list_transform(range(0, octet_length(encode(text))),
                                i -> ('0x' || substr(hex(encode(text)),
                                                     2*i + 1, 2))::BIGINT)
                   AS bytes
          FROM documents)
        SELECT doc_id,
               CAST(ceil(n / {float(compression.ZIP_PART_BYTES)}) AS INT)
                 AS n_members,
               n AS n_bytes,
               CAST(COALESCE(list_aggregate(bytes, 'sum'), 0) AS BIGINT)
                 AS sum_bytes,
               CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_byte,
               CASE WHEN n > 0
                    THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                    ELSE 0.0 END AS mean_byte
        FROM b""",
    "mm_resize": f"""
        WITH h AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        s AS (SELECT doc_id, hx, n,
                     greatest(1, n // {MM_RESIZE_BYTES}) AS stride FROM h),
        r AS (SELECT doc_id,
                     list_slice(list_transform(range(0, n, stride),
                                i -> substr(hx, 2*i + 1, 2)),
                                1, {MM_RESIZE_BYTES}) AS parts
              FROM s)
        SELECT doc_id, 'resized/application/octet-stream' AS media_type,
               CAST(len(parts) AS BIGINT) AS n_bytes,
               array_to_string(parts, '') AS media_hex
        FROM r""",
    "mm_frames": f"""
        WITH h AS (
          SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents),
        f AS (SELECT doc_id, hx,
                     greatest(1, CAST(ceil(n / {float(MM_FRAME_BYTES)}) AS BIGINT))
                       AS nf
              FROM h)
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               substr(hx, CAST(2*{MM_FRAME_BYTES}*i + 1 AS BIGINT),
                      {2 * MM_FRAME_BYTES}) AS frame_hex,
               CAST(nf AS INT) AS n_frames
        FROM (SELECT doc_id, hx, nf, unnest(range(0, nf, {MM_EVERY_N})) AS i
              FROM f)""",
}

def _bpe_cte_blocks(merges: int) -> str:
    """The full BPE training re-run in SQL: per round, a pair-count CTE
    (p), a 1-row argmax CTE (b, ties weight desc then symbols asc),
    and the merge applied to every word sequence (s) as a
    ``list_reduce`` left fold over a chr(31)-joined accumulator —
    bit-for-bit the same greedy non-overlapping semantics as the
    engine's ``F.aggregate`` fold.  The s CTEs carry the word so the
    encode oracle can join the fitted dict back to the corpus."""
    blocks = [f"""w0 AS (SELECT w, count(*) AS cnt
           FROM (SELECT unnest({_TOKENS}) AS w FROM documents)
           GROUP BY w),
    s0 AS (SELECT w, cnt, list_transform(range(1, length(w)+1),
                   i -> substr(w, i, 1)) AS seq FROM w0)"""]
    for r in range(1, merges + 1):
        p = r - 1
        blocks.append(f"""p{r} AS (SELECT sp.a AS lhs, sp.b AS rhs,
                    CAST(sum(cnt) AS BIGINT) AS weight
             FROM (SELECT cnt,
                          unnest(list_transform(range(1, len(seq)),
                                 i -> {{'a': seq[i], 'b': seq[i+1]}})) AS sp
                   FROM s{p})
             GROUP BY 1, 2),
    b{r} AS (SELECT lhs, rhs, weight FROM p{r}
             ORDER BY weight DESC, lhs ASC, rhs ASC LIMIT 1),
    s{r} AS (SELECT w, cnt,
                    string_split(list_reduce(seq, (acc, x) -> CASE
                        WHEN string_split(acc, chr(31))[-1] = b.lhs
                             AND x = b.rhs
                        THEN array_to_string(list_append(
                               list_slice(string_split(acc, chr(31)), 1,
                                          len(string_split(acc, chr(31))) - 1),
                               b.lhs || b.rhs), chr(31))
                        ELSE acc || chr(31) || x END), chr(31)) AS seq
             FROM s{p}, b{r} b)""")
    return "WITH " + ",\n    ".join(blocks)


def _bpe_train_oracle(merges: int) -> str:
    selects = [f"SELECT {r} AS rank, lhs AS left_sym, "
               f"rhs AS right_sym, weight FROM b{r}"
               for r in range(1, merges + 1)]
    return _bpe_cte_blocks(merges) + "\n" + "\nUNION ALL ".join(selects)


def _bpe_encode_oracle(merges: int) -> str:
    return _bpe_cte_blocks(merges) + f""",
    dw AS (SELECT doc_id, unnest({_TOKENS}) AS w FROM documents)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(d.w)) AS BIGINT) AS n_chars,
           CAST(sum(len(s.seq)) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(len(s.seq)) AS BIGINT)
             / CAST(sum(length(d.w)) AS BIGINT) AS bpe_ratio
    FROM dw d JOIN s{merges} s USING (w)
    GROUP BY d.doc_id"""


ORACLES["text_bpe_train"] = _bpe_train_oracle(text.BPE_MERGES)
ORACLES["text_bpe_encode"] = _bpe_encode_oracle(text.BPE_MERGES)

# mirrors operators.text.quality_rules: identical token pipeline and
# single-division doubles, so signal values and flags are bit-exact.
# Zero-token docs: DuckDB's x/0 is naturally NULL (the Spark side uses
# try_divide), and the NULL-ratio flags coalesce to FALSE on both sides
ORACLES["text_quality_rules"] = f"""
    WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
    m AS (SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(list_filter(toks, x -> x IN
                      ({", ".join("'" + s + "'" for s in text.GOPHER_STOPWORDS)})))
                      AS INT) AS n_stopwords,
                 CAST(len(list_filter(toks,
                      x -> regexp_matches(x, '[a-z]'))) AS INT) AS n_alpha,
                 CAST(len(toks) - len(list_distinct(toks)) AS INT) AS n_dup,
                 CAST(list_aggregate(list_transform(toks, x -> length(x)),
                      'sum') AS INT) AS n_chars
          FROM t),
    s AS (SELECT doc_id, n_tokens,
                 n_chars / n_tokens AS mean_word_len,
                 n_stopwords,
                 n_alpha / n_tokens AS alpha_frac,
                 n_dup / n_tokens AS dup_token_frac
          FROM m),
    f AS (SELECT *,
                 (n_tokens >= {text.GOPHER_MIN_WORDS}
                  AND n_tokens <= {text.GOPHER_MAX_WORDS}) AS ok_length,
                 coalesce(mean_word_len >= {text.GOPHER_MIN_MWL}
                          AND mean_word_len <= {text.GOPHER_MAX_MWL},
                          false) AS ok_word_len,
                 (n_stopwords >= {text.GOPHER_MIN_STOPWORDS}) AS ok_stopwords,
                 coalesce(alpha_frac >= {text.GOPHER_MIN_ALPHA_FRAC},
                          false) AS ok_alpha,
                 coalesce(dup_token_frac <= {text.GOPHER_MAX_DUP_TOKEN_FRAC},
                          false) AS ok_repetition
          FROM s)
    SELECT doc_id, n_tokens, mean_word_len, n_stopwords, alpha_frac,
           dup_token_frac, ok_length, ok_word_len, ok_stopwords, ok_alpha,
           ok_repetition,
           (ok_length AND ok_word_len AND ok_stopwords AND ok_alpha
            AND ok_repetition) AS keep
    FROM f"""

# the removal twin of the dup-span oracle: islands become (lo, hi)
# interval lists, the cleaned text is an indexed list_filter (DuckDB
# lambda indexes are 1-based, matching the Spark side's i + 1)
ORACLES["text_strip_boilerplate"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    base AS (SELECT doc_id, tokens,
                    CAST(len(tokens) AS INT) AS n_tokens,
                    CAST(greatest(len(tokens) - {text.DUP_SPAN_N - 1}, 1)
                         AS INT) AS n_spans
             FROM toks),
    occ0 AS (SELECT doc_id, n_tokens, tokens,
                    CAST(unnest(range(1, n_spans + 1)) AS INT) AS start
             FROM base),
    occ AS (SELECT doc_id, n_tokens, start,
                   md5(array_to_string(
                       list_slice(tokens, start,
                                  start + {text.DUP_SPAN_N - 1}), ' ')) AS h
            FROM occ0),
    dup AS (SELECT h
            FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM occ GROUP BY h)
            WHERE nd >= 2),
    hits AS (SELECT doc_id, start,
                    least(start + {text.DUP_SPAN_N}, n_tokens + 1) AS e
             FROM occ JOIN dup USING (h)),
    marked AS (SELECT doc_id, start, e,
                      CASE WHEN max(e) OVER w IS NULL
                             OR start > max(e) OVER w THEN 1 ELSE 0 END AS ni
               FROM hits
               WINDOW w AS (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)),
    isl AS (SELECT doc_id, start, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
            FROM marked),
    ivs AS (SELECT doc_id, min(start) AS lo, max(e) AS hi
            FROM isl GROUP BY doc_id, island),
    ivl AS (SELECT doc_id,
                   list(struct_pack(lo := lo, hi := hi)) AS iv
            FROM ivs GROUP BY doc_id),
    kept AS (SELECT b.doc_id, b.n_tokens,
                    list_filter(b.tokens, (x, i) ->
                        len(list_filter(
                            COALESCE(ivl.iv,
                                     []::STRUCT(lo INT, hi INT)[]),
                            s -> s.lo <= i AND i < s.hi)) = 0) AS kt
             FROM base b LEFT JOIN ivl USING (doc_id))
    SELECT doc_id, n_tokens,
           CAST(n_tokens - len(kt) AS INT) AS n_removed,
           COALESCE(array_to_string(kt, ' '), '') AS cleaned_text
    FROM kept"""

# increment-vs-corpus span probe: the dup_span_report oracle machinery
# with the distinct-doc threshold swapped for membership in the corpus
# side's distinct span-hash index
ORACLES["dedup_incremental_spans"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    base AS (SELECT doc_id, CAST(len(tokens) AS INT) AS n_tokens,
                    CAST(greatest(len(tokens) - {text.DUP_SPAN_N - 1}, 1)
                         AS INT) AS n_spans,
                    tokens
             FROM toks),
    occ0 AS (SELECT doc_id, n_tokens, tokens,
                    CAST(unnest(range(1, n_spans + 1)) AS INT) AS start
             FROM base),
    occ AS (SELECT doc_id, n_tokens, start,
                   md5(array_to_string(
                       list_slice(tokens, start,
                                  start + {text.DUP_SPAN_N - 1}), ' ')) AS h
            FROM occ0),
    idx AS (SELECT DISTINCT h FROM occ WHERE doc_id % {INC_MOD} <> 0),
    hits AS (SELECT doc_id, start,
                    least(start + {text.DUP_SPAN_N}, n_tokens + 1) AS e
             FROM occ JOIN idx USING (h)
             WHERE doc_id % {INC_MOD} = 0),
    marked AS (SELECT doc_id, start, e,
                      CASE WHEN max(e) OVER w IS NULL
                             OR start > max(e) OVER w THEN 1 ELSE 0 END AS ni
               FROM hits
               WINDOW w AS (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)),
    isl AS (SELECT doc_id, start, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
            FROM marked),
    agg AS (SELECT doc_id, island, max(e) - min(start) AS cov,
                   count(*) AS n_occ
            FROM isl GROUP BY doc_id, island),
    pd AS (SELECT doc_id,
                  CAST(sum(cov) AS BIGINT) AS covered_tokens,
                  CAST(sum(n_occ) AS BIGINT) AS n_corpus_spans
           FROM agg GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.n_spans,
           COALESCE(pd.n_corpus_spans, 0) AS n_corpus_spans,
           COALESCE(pd.covered_tokens, 0) AS covered_tokens,
           COALESCE(pd.covered_tokens, 0) / b.n_tokens AS overlap_ratio
    FROM base b LEFT JOIN pd USING (doc_id)
    WHERE b.doc_id % {INC_MOD} = 0"""

# mirrors operators.text.dup_span_report: same shingling as _TOKENS /
# list_slice, distinct-doc threshold, and the identical islands
# (running max of interval ends) coverage union
_DSN = text.DUP_SPAN_N
ORACLES["text_dup_spans"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    base AS (SELECT doc_id, CAST(len(tokens) AS INT) AS n_tokens,
                    CAST(greatest(len(tokens) - {_DSN - 1}, 1) AS INT)
                      AS n_spans,
                    tokens
             FROM toks),
    occ0 AS (SELECT doc_id, n_tokens, tokens,
                    CAST(unnest(range(1, n_spans + 1)) AS INT) AS start
             FROM base),
    occ AS (SELECT doc_id, n_tokens, start,
                   md5(array_to_string(
                       list_slice(tokens, start, start + {_DSN - 1}), ' '))
                     AS h
            FROM occ0),
    dup AS (SELECT h
            FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM occ GROUP BY h)
            WHERE nd >= 2),
    hits AS (SELECT doc_id, start,
                    least(start + {_DSN}, n_tokens + 1) AS e
             FROM occ JOIN dup USING (h)),
    marked AS (SELECT doc_id, start, e,
                      CASE WHEN max(e) OVER w IS NULL
                             OR start > max(e) OVER w THEN 1 ELSE 0 END AS ni
               FROM hits
               WINDOW w AS (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)),
    isl AS (SELECT doc_id, start, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS island
            FROM marked),
    agg AS (SELECT doc_id, island, max(e) - min(start) AS cov,
                   count(*) AS n_occ
            FROM isl GROUP BY doc_id, island),
    pd AS (SELECT doc_id,
                  CAST(sum(cov) AS BIGINT) AS covered_tokens,
                  CAST(sum(n_occ) AS BIGINT) AS n_dup_spans
           FROM agg GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.n_spans,
           COALESCE(pd.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(pd.covered_tokens, 0) AS covered_tokens,
           COALESCE(pd.covered_tokens, 0) / b.n_tokens AS dup_ratio
    FROM base b LEFT JOIN pd USING (doc_id)"""

# winnow selection shared with the text_winnow oracle; pairs = equi-
# join on the selected hash, containment = one integer division
ORACLES["dedup_winnow_pairs"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(WINNOW_N)} AS shingles FROM toks),
    h AS (SELECT doc_id,
                 list_transform(shingles,
                     s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
          FROM sh),
    m AS (SELECT doc_id,
                 list_transform(
                     range(1, greatest(len(hs) - {WINNOW_W - 1}, 1) + 1),
                     i -> list_min(list_slice(hs, i, i + {WINNOW_W - 1})))
                   AS mins
          FROM h),
    sel AS (SELECT DISTINCT doc_id, mn
            FROM (SELECT doc_id, unnest(mins) AS mn FROM m)),
    sz AS (SELECT doc_id, count(*) AS sz FROM sel GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     count(*) AS shared_fp
              FROM sel a JOIN sel b
                ON a.mn = b.mn AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT doc_a, doc_b, shared_fp,
           sa.sz AS size_a, sb.sz AS size_b,
           shared_fp / least(sa.sz, sb.sz) AS containment
    FROM pairs
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b"""

# decoded FLAC samples == payload bytes (lossless roundtrip proof,
# same byte-stats machinery as mm_decode_wav); n_frames = 256-sample
# fixed blocks
ORACLES["mm_decode_flac"] = f"""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             list_transform(range(0, octet_length(encode(text))),
                            i -> ('0x' || substr(hex(encode(text)),
                                                 2*i + 1, 2))::BIGINT)
               AS bytes
      FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           {multimodal.FLAC_RATE} AS sample_rate,
           CAST(ceil(n / {float(multimodal.FLAC_BLOCK)}) AS INT) AS n_frames,
           CAST(COALESCE(list_max(bytes), 0) AS INT) AS max_amp,
           CASE WHEN n > 0
                THEN list_aggregate(bytes, 'sum')::DOUBLE / n
                ELSE 0.0 END AS mean_amp
    FROM b"""

# frame fan-out geometry is a pure function of the byte count
# (256-byte frames, min 1 — except an EMPTY payload, which encodes as
# a zero-frame AVI and must yield zero rows, as in mm_decode_video)
ORACLES["mm_decode_mjpeg"] = f"""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
               FROM documents),
    f AS (SELECT doc_id,
                 CASE WHEN n = 0 THEN 0
                      ELSE greatest(1, CAST(ceil(
                          n / {float(multimodal.MJPEG_W * multimodal.MJPEG_H)})
                        AS BIGINT)) END AS nf
          FROM b)
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
           {multimodal.MJPEG_W} AS width, {multimodal.MJPEG_H} AS height,
           true AS err_le_16
    FROM (SELECT doc_id, nf, unnest(range(0, nf, {multimodal.MJPEG_EVERY_N}))
                 AS i
          FROM f)"""

# the lossless proof for the inter-frame path: per-frame stats over
# the KERNEL's reconstructed framebuffer (BRUN key frame + LC deltas)
# must equal exact byte math over the payload slices (zero-padded last
# frame, so the mean divides by the constant frame size); empty
# payloads are zero-frame files -> zero rows
ORACLES["mm_decode_flic"] = f"""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             list_transform(range(0, octet_length(encode(text))),
                            i -> ('0x' || substr(hex(encode(text)),
                                                 2*i + 1, 2))::BIGINT)
               AS bytes
      FROM documents),
    f AS (SELECT doc_id, bytes,
                 CASE WHEN n = 0 THEN 0
                      ELSE greatest(1, CAST(ceil(
                          n / {float(multimodal.FLIC_W * multimodal.FLIC_H)})
                        AS BIGINT)) END AS nf
          FROM b),
    fs AS (SELECT {multimodal.FLIC_W * multimodal.FLIC_H} AS sz)
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
           {multimodal.FLIC_W} AS width, {multimodal.FLIC_H} AS height,
           i = 0 AS is_key,
           CAST(COALESCE(list_max(list_slice(bytes, sz*i + 1, sz*i + sz)), 0)
                AS INT) AS max_px,
           COALESCE(list_aggregate(list_slice(bytes, sz*i + 1, sz*i + sz),
                                   'sum'), 0)::DOUBLE / sz AS mean_px
    FROM (SELECT doc_id, bytes, nf, unnest(range(0, nf)) AS i FROM f), fs"""

# the lossless proof for the MOTION-COMPENSATED path: identical
# contract to mm_decode_flic (reconstructed per-frame stats == exact
# byte math over zero-padded payload slices), through block-matching
# estimation + compensation instead of line deltas
ORACLES["mm_decode_mcv"] = f"""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             list_transform(range(0, octet_length(encode(text))),
                            i -> ('0x' || substr(hex(encode(text)),
                                                 2*i + 1, 2))::BIGINT)
               AS bytes
      FROM documents),
    f AS (SELECT doc_id, bytes,
                 CASE WHEN n = 0 THEN 0
                      ELSE greatest(1, CAST(ceil(
                          n / {float(multimodal.MCV_W * multimodal.MCV_H)})
                        AS BIGINT)) END AS nf
          FROM b),
    fs AS (SELECT {multimodal.MCV_W * multimodal.MCV_H} AS sz)
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
           {multimodal.MCV_W} AS width, {multimodal.MCV_H} AS height,
           i = 0 AS is_key,
           CAST(COALESCE(list_max(list_slice(bytes, sz*i + 1, sz*i + sz)), 0)
                AS INT) AS max_px,
           COALESCE(list_aggregate(list_slice(bytes, sz*i + 1, sz*i + sz),
                                   'sum'), 0)::DOUBLE / sz AS mean_px
    FROM (SELECT doc_id, bytes, nf, unnest(range(0, nf)) AS i FROM f), fs"""

# perceptual-hash dedup: the dHash is pure integer math over the key
# frame's byte values (zero-padded to PHASH_W*PHASH_H), so the oracle
# rebuilds the 8x8 block-sum grid, the ring-difference bits, the four
# 16-bit bands, the pigeonhole band self-join, and the per-band
# bit_count(xor) Hamming verify — mirroring multimodal.phash_near_pairs
# exactly
# shared dHash CTE block (raw bytes -> block-sum grid -> ring bits ->
# four 16-bit bands -> per-doc signature) — used by the batch pair
# query and the incremental probe
# The CTE text below hardcodes the geometry the constants currently
# imply: 2x2-pixel block sums (the px[r*2*W + ...] offsets), two grid
# rows packed per 16-bit band (r // 2, r % 2), and exactly four band
# columns b0..b3. Pin those assumptions HERE so changing
# PHASH_W/PHASH_H/PHASH_GRID/PHASH_BANDS fails at import instead of
# silently desyncing operator and oracle until the driver gate trips.
assert (multimodal.PHASH_W // multimodal.PHASH_GRID == 2
        and multimodal.PHASH_H // multimodal.PHASH_GRID == 2
        and multimodal.PHASH_GRID // multimodal.PHASH_BANDS == 2
        and multimodal.PHASH_BANDS == 4), (
    "_PHASH_CTES hardcodes 2x2 blocks, 2-rows-per-band packing and "
    "b0..b3 — rederive the SQL if the phash geometry changes")

_PHASH_CTES = f"""
    raw AS (
      SELECT doc_id, octet_length(encode(text)) AS n,
             list_transform(range(0, {multimodal.PHASH_W * multimodal.PHASH_H}),
                 i -> CASE WHEN i < octet_length(encode(text))
                      THEN ('0x' || substr(hex(encode(text)),
                                           2*i + 1, 2))::BIGINT
                      ELSE 0 END) AS px
      FROM documents),
    grid AS (
      SELECT doc_id, r, c,
             px[r*2*{multimodal.PHASH_W} + c*2 + 1]
           + px[r*2*{multimodal.PHASH_W} + c*2 + 2]
           + px[(r*2+1)*{multimodal.PHASH_W} + c*2 + 1]
           + px[(r*2+1)*{multimodal.PHASH_W} + c*2 + 2] AS s
      FROM raw, range(0, {multimodal.PHASH_GRID}) t1(r),
                range(0, {multimodal.PHASH_GRID}) t2(c)),
    bits AS (
      SELECT g.doc_id, g.r, g.c,
             CASE WHEN g.s > h.s THEN 1 ELSE 0 END AS bit
      FROM grid g JOIN grid h
        ON g.doc_id = h.doc_id AND g.r = h.r
       AND h.c = (g.c + 1) % {multimodal.PHASH_GRID}),
    bands AS (
      SELECT doc_id, CAST(r // 2 AS INT) AS band,
             CAST(SUM(bit * (1 << ((r % 2) * {multimodal.PHASH_GRID} + c)))
                  AS INT) AS bv
      FROM bits GROUP BY doc_id, r // 2),
    sig AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN bv END) AS b0,
             MAX(CASE WHEN band = 1 THEN bv END) AS b1,
             MAX(CASE WHEN band = 2 THEN bv END) AS b2,
             MAX(CASE WHEN band = 3 THEN bv END) AS b3
      FROM bands GROUP BY doc_id)"""

_PHASH_HAMMING_SQL = " + ".join(
    f"bit_count(xor(sa.b{k}::BIGINT, sb.b{k}::BIGINT))"
    for k in range(multimodal.PHASH_BANDS))

ORACLES["dedup_phash_media"] = f"""
    WITH {_PHASH_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
    SELECT p.doc_a, p.doc_b,
           CAST(bit_count(xor(sa.b0::BIGINT, sb.b0::BIGINT))
              + bit_count(xor(sa.b1::BIGINT, sb.b1::BIGINT))
              + bit_count(xor(sa.b2::BIGINT, sb.b2::BIGINT))
              + bit_count(xor(sa.b3::BIGINT, sb.b3::BIGINT)) AS INT)
             AS hamming
    FROM cand p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    WHERE bit_count(xor(sa.b0::BIGINT, sb.b0::BIGINT))
        + bit_count(xor(sa.b1::BIGINT, sb.b1::BIGINT))
        + bit_count(xor(sa.b2::BIGINT, sb.b2::BIGINT))
        + bit_count(xor(sa.b3::BIGINT, sb.b3::BIGINT))
        <= {multimodal.PHASH_MAX_HAMMING}"""

# incremental probe: the same dHash CTEs, but candidates come from the
# new-batch x standing-corpus band join instead of the self-join —
# mirrors multimodal.phash_incremental_pairs
ORACLES["dedup_incremental_phash"] = f"""
    WITH {_PHASH_CTES},
    cand AS (
      SELECT DISTINCT a.doc_id, b.doc_id AS corpus_doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv
      WHERE a.doc_id % {INC_MOD} = 0 AND b.doc_id % {INC_MOD} != 0)
    SELECT p.doc_id, p.corpus_doc_id,
           CAST({_PHASH_HAMMING_SQL} AS INT) AS hamming
    FROM cand p
    JOIN sig sa ON sa.doc_id = p.doc_id
    JOIN sig sb ON sb.doc_id = p.corpus_doc_id
    WHERE {_PHASH_HAMMING_SQL} <= {multimodal.PHASH_MAX_HAMMING}"""

# the lossless proof one motion rung up: MCV2's half-pel interpolate ->
# search -> compensate -> Rice path must reconstruct the same bytes, so
# the oracle is the identical exact-byte-math contract as mm_decode_mcv
ORACLES["mm_decode_mcv2"] = f"""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             list_transform(range(0, octet_length(encode(text))),
                            i -> ('0x' || substr(hex(encode(text)),
                                                 2*i + 1, 2))::BIGINT)
               AS bytes
      FROM documents),
    f AS (SELECT doc_id, bytes,
                 CASE WHEN n = 0 THEN 0
                      ELSE greatest(1, CAST(ceil(
                          n / {float(multimodal.MCV_W * multimodal.MCV_H)})
                        AS BIGINT)) END AS nf
          FROM b),
    fs AS (SELECT {multimodal.MCV_W * multimodal.MCV_H} AS sz)
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
           {multimodal.MCV_W} AS width, {multimodal.MCV_H} AS height,
           i = 0 AS is_key,
           CAST(COALESCE(list_max(list_slice(bytes, sz*i + 1, sz*i + sz)), 0)
                AS INT) AS max_px,
           COALESCE(list_aggregate(list_slice(bytes, sz*i + 1, sz*i + sz),
                                   'sum'), 0)::DOUBLE / sz AS mean_px
    FROM (SELECT doc_id, bytes, nf, unnest(range(0, nf)) AS i FROM f), fs"""

# the lossless proof for the rate-decided, range-coded path: MCV3's
# mode-decide -> predict -> arithmetic-code pipeline must reconstruct
# the same bytes, so the oracle is the identical exact-byte-math
# contract as mm_decode_mcv / mm_decode_mcv2
ORACLES["mm_decode_mcv3"] = ORACLES["mm_decode_mcv2"]

# geometry + derived-bound flag, as in mm_decode_jpeg: block count is
# ceil(n/N) + 1 (the extra TDAC boundary block), 0 for empty payloads
ORACLES["mm_decode_mdct"] = f"""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
               FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE CAST(ceil(n / {float(multimodal.MDCT_N)}) AS BIGINT)
                          + 1 END AS INT) AS n_frames,
           {multimodal.MDCT_N} AS block_n, {multimodal.MDCT_Q} AS q,
           true AS err_le_16
    FROM b"""

# the lossless proof for the BIDIRECTIONAL path, plus the GOP shape:
# frame types are deterministic in the frame count (I at 0, P at
# multiples of 3 and at the last frame, B elsewhere), so the oracle
# checks the reorder contract as well as the byte math
ORACLES["mm_decode_mcv4"] = f"""
    WITH b AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n,
             list_transform(range(0, octet_length(encode(text))),
                            i -> ('0x' || substr(hex(encode(text)),
                                                 2*i + 1, 2))::BIGINT)
               AS bytes
      FROM documents),
    f AS (SELECT doc_id, bytes,
                 CASE WHEN n = 0 THEN 0
                      ELSE greatest(1, CAST(ceil(
                          n / {float(multimodal.MCV_W * multimodal.MCV_H)})
                        AS BIGINT)) END AS nf
          FROM b),
    fs AS (SELECT {multimodal.MCV_W * multimodal.MCV_H} AS sz)
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(nf AS INT) AS n_frames,
           {multimodal.MCV_W} AS width, {multimodal.MCV_H} AS height,
           CASE WHEN i = 0 THEN 'I'
                WHEN i % {multimodal.MCV4_GOP} = 0 OR i = nf - 1 THEN 'P'
                ELSE 'B' END AS frame_type,
           CAST(COALESCE(list_max(list_slice(bytes, sz*i + 1, sz*i + sz)), 0)
                AS INT) AS max_px,
           COALESCE(list_aggregate(list_slice(bytes, sz*i + 1, sz*i + sz),
                                   'sum'), 0)::DOUBLE / sz AS mean_px
    FROM (SELECT doc_id, bytes, nf, unnest(range(0, nf)) AS i FROM f), fs"""

# psychoacoustic audio: geometry (same block count as MDCT — the codec
# shares its transform) + the stream-derived provable error-bound flag
ORACLES["mm_decode_pac"] = f"""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
               FROM documents)
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE CAST(ceil(n / {float(multimodal.MDCT_N)}) AS BIGINT)
                          + 1 END AS INT) AS n_frames,
           {multimodal.PAC_N_BANDS} AS n_bands,
           true AS err_le_bound
    FROM b"""

# JPEG is lossy, so the oracle checks exactly-SQL-expressible geometry
# (width / height / n_px / n_blocks are pure functions of the byte
# count: rows of JPEG_W, height rounded up to whole 8-px block rows)
# plus the provable reconstruction-error bound flag (see
# operators.multimodal.jpeg_decode_features for the derivation).
ORACLES["mm_decode_jpeg"] = f"""
    WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n
               FROM documents),
    d AS (SELECT doc_id,
                 greatest(((CAST(ceil(n / {float(multimodal.JPEG_W)})
                            AS BIGINT) + 7) // 8) * 8, 8) AS h
          FROM b)
    SELECT doc_id,
           {multimodal.JPEG_W} AS width,
           CAST(h AS INT) AS height,
           h * {multimodal.JPEG_W} AS n_px,
           CAST((h // 8) * {multimodal.JPEG_W // 8} AS INT) AS n_blocks,
           true AS err_le_16
    FROM d"""

# wraps the sim_ann_lsh top-k CTE: relevance = neighbor shares the
# query's label; rational metrics (hits/k, 1/rank) stay bit-exact
ORACLES["sim_eval_retrieval"] = f"""
    WITH topk AS ({{LSH_TOPK}}),
    q AS (SELECT vec_id AS query_id, label AS true_label
          FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    lab AS (SELECT vec_id AS neighbor_id, label AS n_label
            FROM embeddings),
    hits AS (SELECT t.query_id, t.rank,
                    CASE WHEN l.n_label = q.true_label THEN 1 ELSE 0 END
                      AS rel
             FROM topk t
             JOIN lab l USING (neighbor_id)
             JOIN q USING (query_id)),
    per AS (SELECT query_id,
                   CAST(count(*) AS BIGINT) AS n_retrieved,
                   CAST(sum(rel) AS BIGINT) AS n_relevant,
                   min(CASE WHEN rel = 1 THEN rank END) AS first_rel
            FROM hits GROUP BY query_id)
    SELECT q.query_id, q.true_label,
           COALESCE(per.n_retrieved, 0) AS n_retrieved,
           COALESCE(per.n_relevant, 0) AS n_relevant,
           COALESCE(per.n_relevant, 0) / {TOPK} AS precision_at_k,
           COALESCE(1.0 / per.first_rel, 0.0) AS mrr
    FROM q LEFT JOIN per USING (query_id)"""
ORACLES["sim_eval_retrieval"] = ORACLES["sim_eval_retrieval"].replace(
    "{LSH_TOPK}", ORACLES["sim_ann_lsh"])

ORACLES["sim_topk_ivf_trained"] = _ivf_trained_oracle(KMEANS_ITERS)

# shard manifest on top of the packing oracle (embedded verbatim)
ORACLES["text_shard_report"] = f"""
    WITH p AS ({ORACLES["text_pack_shards"]})
    SELECT shard_id, COUNT(*) AS n_docs,
           MIN(global_offset) AS first_offset,
           CAST(SUM(n_tokens) AS BIGINT) AS member_tokens
    FROM p GROUP BY 1"""

# vote-agreement report: both pred legs embedded verbatim as CTEs so
# the agreement definition cannot drift from the judged legs; NULL-safe
# compare mirrors eqNullSafe (bucket-empty queries -> pred_ann NULL).
ORACLES["sim_knn_agreement"] = f"""
    WITH exact AS ({ORACLES["sim_knn_label_vote_exact"]}),
         ann AS ({ORACLES["sim_knn_label_vote"]})
    SELECT e.query_id, e.true_label, e.pred_label AS pred_exact,
           a.pred_label AS pred_ann,
           a.pred_label IS NOT DISTINCT FROM e.pred_label AS ann_agrees
    FROM exact e LEFT JOIN ann a USING (query_id)"""
ORACLES["sim_topk_ivf_probe2"] = _ivf_trained_oracle(KMEANS_ITERS,
                                                     nprobe=IVF_NPROBE)
ORACLES["sim_topk_pq"] = _pq_oracle(PQ_ITERS)
ORACLES["sim_topk_ivfpq"] = _ivfpq_oracle(KMEANS_ITERS, PQ_ITERS,
                                          nprobe=IVFPQ_NPROBE)

# rerank: the PQ oracle at shortlist depth feeds an exact-cosine
# re-scoring over the same unit vectors (the _DOT fold order matches
# the Spark side's dot_unrolled bit-for-bit, as in the brute-force
# oracle); ties re-break by neighbor id at the re-ranked depth
ORACLES["sim_topk_pq_rerank"] = f"""
    WITH {_EMB_D},
    short AS (
      SELECT query_id, neighbor_id
      FROM ({_pq_oracle(PQ_ITERS, TOPK * PQ_RERANK_MULT)})),
    q AS (SELECT vec_id AS query_id, uv AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0 AND uv[1] IS NOT NULL),
    c AS (SELECT vec_id AS neighbor_id, uv AS cv FROM e),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             {_DOT.format(a='q.qv', b='c.cv')} AS cos_sim
      FROM short s
      JOIN q USING (query_id)
      JOIN c USING (neighbor_id)),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM scored)
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rn <= {TOPK}"""

# IVF-PQ + refine: the IVF-PQ oracle at shortlist depth feeds the same
# exact-cosine re-scoring as the flat-PQ rerank — the literal FAISS
# deploy default (IndexIVFPQ + refine)
ORACLES["sim_topk_ivfpq_rerank"] = f"""
    WITH {_EMB_D},
    short AS (
      SELECT query_id, neighbor_id
      FROM ({_ivfpq_oracle(KMEANS_ITERS, PQ_ITERS, IVFPQ_NPROBE,
                           TOPK * PQ_RERANK_MULT)})),
    q AS (SELECT vec_id AS query_id, uv AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0 AND uv[1] IS NOT NULL),
    c AS (SELECT vec_id AS neighbor_id, uv AS cv FROM e),
    scored AS (
      SELECT s.query_id, s.neighbor_id,
             {_DOT.format(a='q.qv', b='c.cv')} AS cos_sim
      FROM short s
      JOIN q USING (query_id)
      JOIN c USING (neighbor_id)),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM scored)
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rn <= {TOPK}"""

# SemDeDup oracle: the shared k-means CTEs, a fresh rn=1 assignment
# over the non-degenerate vectors, then within-cell pair scoring —
# mirrors similarity.cosine_near_dup_clustered bit-for-bit
def _semantic_oracle(train_iters: int) -> str:
    km, cent = _kmeans_ctes(train_iters)
    return f"""
        WITH {_EMB_D},{km},
        assigned AS (
          SELECT vec_id, cell, uv FROM (
            SELECT eg.vec_id, c.cell, eg.uv,
                   ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                       ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM eg, {cent} c) WHERE rn = 1)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(a.cell AS INT) AS cell,
               {_cos('a.uv', 'b.uv')} AS cos_sim
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {_cos('a.uv', 'b.uv')} >= {COS_DUP_THRESHOLD}"""


ORACLES["dedup_semantic"] = _semantic_oracle(KMEANS_ITERS)

# incremental SemDeDup: the k-means CTEs trained on the CORPUS split
# only (extra_where), corpus placement from the training set's own
# rows, the new batch assigned against the same centroids, then one
# cell equi-join increment x corpus — mirrors
# similarity.cosine_incremental_clustered bit-for-bit
_INC_KM, _INC_CENT = _kmeans_ctes(
    KMEANS_ITERS, extra_where=f" AND vec_id % {INC_MOD} != 0")
ORACLES["dedup_incremental_semantic"] = f"""
    WITH {_EMB_D},{_INC_KM},
    casg AS (
      SELECT vec_id, cell, uv FROM (
        SELECT eg.vec_id, c.cell, eg.uv,
               ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                   ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                            c.cell ASC) AS rn
        FROM eg, {_INC_CENT} c) WHERE rn = 1),
    nq AS (SELECT vec_id, uv FROM e
           WHERE uv[1] IS NOT NULL AND vec_id % {INC_MOD} = 0),
    nasg AS (
      SELECT vec_id, cell, uv FROM (
        SELECT nq.vec_id, c.cell, nq.uv,
               ROW_NUMBER() OVER (PARTITION BY nq.vec_id
                   ORDER BY {_DOT.format(a='nq.uv', b='c.cv')} DESC,
                            c.cell ASC) AS rn
        FROM nq, {_INC_CENT} c) WHERE rn = 1)
    SELECT n.vec_id AS new_id, c.vec_id AS dup_of,
           CAST(n.cell AS INT) AS cell,
           {_cos('n.uv', 'c.uv')} AS cos_sim
    FROM nasg n JOIN casg c ON n.cell = c.cell
    WHERE {_cos('n.uv', 'c.uv')} >= {COS_DUP_THRESHOLD}"""

# source-drift report: shared vocab-bounded counts, the closed-form
# absent-term contributions (no source x vocab grid), the EXACT
# common-denominator total-variation numerator in integers, and the
# chi-square in-term-order fold — the identical IEEE op chain as
# operators.text.source_drift_report
_DRIFT_E = "CAST(c.tf_c AS DOUBLE) * n.n_tokens / t.n_total"
ORACLES["text_source_drift"] = f"""
    WITH tok AS (SELECT source, unnest({_TOKENS}) AS term
                 FROM documents),
    stf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS obs
            FROM tok GROUP BY 1, 2),
    ctf AS (SELECT term, CAST(sum(obs) AS BIGINT) AS tf_c
            FROM stf GROUP BY 1),
    ns AS (SELECT source, CAST(sum(obs) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS n_terms
           FROM stf GROUP BY 1),
    nt AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM stf),
    per AS (
      SELECT s.source,
             list_aggregate(list(
               (s.obs - {_DRIFT_E}) * (s.obs - {_DRIFT_E}) / ({_DRIFT_E})
               - {_DRIFT_E}
               ORDER BY s.term), 'sum') AS chi_part,
             CAST(sum(abs(s.obs * t.n_total - c.tf_c * n.n_tokens))
                  AS BIGINT) AS tv_present,
             CAST(sum(c.tf_c) AS BIGINT) AS tfc_present
      FROM stf s JOIN ctf c USING (term) JOIN ns n USING (source), nt t
      GROUP BY s.source)
    SELECT p.source, n.n_tokens, n.n_terms,
           (1000000 * (tv_present + (t.n_total - tfc_present) * n.n_tokens))
             // (2 * n.n_tokens * t.n_total) AS tv_ppm,
           p.chi_part + n.n_tokens AS chi2
    FROM per p JOIN ns n USING (source), nt t"""

# prefix-filtered exact Jaccard join: the oracle is the COMPLETE
# inverted-index form (every pair sharing a gram, full intersection
# count), so the hash match proves the Spark side's prefix filter
# (rarest-gram prefixes + rational-ceil lengths) loses no pairs
ORACLES["dedup_jaccard_exact"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(SHINGLE_N)} AS shingles
           FROM toks),
    grams AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY 1),
    ainter AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS ni
      FROM grams ga JOIN grams gb
        ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           i.ni / (sa.ng + sb.ng - i.ni) AS jaccard
    FROM ainter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.ni / (sa.ng + sb.ng - i.ni) >= {JACCARD_THRESHOLD}"""

# incremental exact-Jaccard: the oracle is the complete new x corpus
# inverted-index form (every cross-set pair sharing a gram, full
# intersection count) — the hash match proves the frozen-order
# cross-set prefix filter in dedup.jaccard_incremental_pairs is
# lossless
ORACLES["dedup_incremental_jaccard"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(SHINGLE_N)} AS shingles
           FROM toks),
    grams AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY 1),
    ainter AS (
      SELECT n.doc_id AS new_id, c.doc_id AS dup_of, COUNT(*) AS ni
      FROM grams n JOIN grams c
        ON n.g = c.g AND n.doc_id % {INC_MOD} = 0
           AND c.doc_id % {INC_MOD} != 0
      GROUP BY 1, 2)
    SELECT i.new_id, i.dup_of,
           i.ni / (sa.ng + sb.ng - i.ni) AS jaccard
    FROM ainter i
    JOIN sizes sa ON sa.doc_id = i.new_id
    JOIN sizes sb ON sb.doc_id = i.dup_of
    WHERE i.ni / (sa.ng + sb.ng - i.ni) >= {JACCARD_THRESHOLD}"""

# MinHash banding-miss quantification: the exact leg enumerates every
# over-threshold pair through the gram-blocked inverted index (shared
# shingle required for Jaccard > 0 — no all-pairs join), the banded
# leg composes the already-green dedup_ngram_jaccard oracle verbatim;
# integer counts plus one IEEE double division, NULL-guarded
ORACLES["dedup_minhash_recall"] = f"""
    WITH {_MINHASH_CTES},
    grams AS (
      SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY 1),
    ainter AS (
      SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, COUNT(*) AS ni
      FROM grams ga JOIN grams gb
        ON ga.g = gb.g AND ga.doc_id < gb.doc_id
      GROUP BY 1, 2),
    ex AS (SELECT i.doc_a, i.doc_b
           FROM ainter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b
           WHERE i.ni / (sa.ng + sb.ng - i.ni) >= {JACCARD_THRESHOLD}),
    bd AS (SELECT doc_a, doc_b FROM ({ORACLES["dedup_ngram_jaccard"]})),
    ne AS (SELECT COUNT(*) AS n_exact FROM ex),
    nb AS (SELECT COUNT(*) AS n_banded FROM bd),
    nf AS (SELECT COUNT(*) AS n_found
           FROM ex JOIN bd USING (doc_a, doc_b))
    SELECT CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST(nb.n_banded AS BIGINT) AS n_banded,
           CAST(nf.n_found AS BIGINT) AS n_found,
           CAST(ne.n_exact - nf.n_found AS BIGINT) AS n_missed,
           CASE WHEN ne.n_exact = 0 THEN CAST(NULL AS DOUBLE)
                ELSE CAST(nf.n_found AS DOUBLE) / ne.n_exact END AS recall
    FROM ne, nb, nf"""

# DSIR importance resampling: hashed-bigram buckets (the identical
# tokenize/md5 chain as text_lm_familiarity's oracle, reduced mod
# DSIR_BUCKETS), add-one-smoothed target/raw ratio in ppm by integer
# division, per-doc mean weight, per-source rank selection — every
# step integer arithmetic, bit-identical across engines
ORACLES["text_dsir_select"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    g AS (SELECT doc_id,
            unnest(list_transform(range(1, len(tk)),
              i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 15))::BIGINT
                   % {DSIR_BUCKETS})) AS bucket
          FROM toks WHERE len(tk) >= 2),
    w AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw,
            CAST(sum(CASE WHEN ('0x' || substr(md5('tgt:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                               % {DSIR_TGT_MOD} = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt
          FROM g GROUP BY 1),
    ww AS (SELECT bucket,
                  (1000000 * (n_tgt + 1)) // (n_raw + 1) AS w_ppm
           FROM w),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(sum(w_ppm) AS BIGINT) AS sum_w_ppm
           FROM g JOIN ww USING (bucket) GROUP BY 1),
    sc AS (SELECT d.doc_id, d.source,
             coalesce(n_grams, 0) AS n_grams,
             coalesce(sum_w_ppm, 0) AS sum_w_ppm,
             CASE WHEN coalesce(n_grams, 0) = 0 THEN 0
                  ELSE sum_w_ppm // n_grams END AS avg_w_ppm
           FROM documents d LEFT JOIN pd USING (doc_id)),
    r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY avg_w_ppm DESC, doc_id ASC) AS rank_in_source
          FROM sc)
    SELECT doc_id, source, n_grams, sum_w_ppm, avg_w_ppm,
           CAST(rank_in_source AS INT) AS rank_in_source,
           rank_in_source <= {DSIR_KEEP} AS selected
    FROM r"""


# D4/SSL-prototypes pruning: the shared k-means CTEs, the rn=1
# assignment, then cosine-to-own-centroid (the identical in-order dot
# fold) ranked per cell — mirrors similarity.prototypicality
def _proto_oracle(train_iters: int) -> str:
    km, cent = _kmeans_ctes(train_iters)
    return f"""
        WITH {_EMB_D},{km},
        assigned AS (
          SELECT vec_id, cell, uv FROM (
            SELECT eg.vec_id, c.cell, eg.uv,
                   ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                       ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                                c.cell ASC) AS rn
            FROM eg, {cent} c) WHERE rn = 1),
        scored AS (
          SELECT a.vec_id, a.cell,
                 {_DOT.format(a='a.uv', b='c.cv')} AS proto_sim
          FROM assigned a JOIN {cent} c USING (cell)),
        r AS (SELECT vec_id, cell, proto_sim,
                     ROW_NUMBER() OVER (PARTITION BY cell
                         ORDER BY proto_sim DESC, vec_id ASC)
                       AS rank_in_cell
              FROM scored)
        SELECT vec_id, CAST(cell AS INT) AS cell, proto_sim,
               CAST(rank_in_cell AS INT) AS rank_in_cell,
               rank_in_cell > {PROTO_DROP_TOPN} AS kept
        FROM r"""


ORACLES["corpus_prototypes"] = _proto_oracle(KMEANS_ITERS)

# cluster-balanced sampling: the shared k-means CTEs + assignment feed
# a per-cell salted-hash rank window — text_stratified_sample's quota
# machinery with semantic cells as the strata
ORACLES["text_cluster_sample"] = f"""
    WITH {_EMB_D},{_kmeans_ctes(KMEANS_ITERS)[0]},
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT eg.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                   ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                            c.cell ASC) AS rn
        FROM eg, {_kmeans_ctes(KMEANS_ITERS)[1]} c) WHERE rn = 1),
    r AS (SELECT vec_id, cell,
                 ROW_NUMBER() OVER (PARTITION BY cell
                     ORDER BY ('0x' || substr(md5('cell:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                              vec_id) AS rank_in_cell
          FROM assigned)
    SELECT vec_id AS doc_id, CAST(cell AS INT) AS cell,
           CAST(rank_in_cell AS INT) AS rank_in_cell
    FROM r WHERE rank_in_cell <= {CELL_QUOTA}"""

# cluster-topics: the SemDeDup k-means CTEs (shared machinery) feed a
# cell->doc map; term counting is text_tfidf's dataflow aggregated per
# cell; score = CAST(tf AS DOUBLE) * (N - df + 0.5) / (df + 0.5), the
# identical IEEE op chain as the Spark side
ORACLES["corpus_topics"] = f"""
    WITH {_EMB_D},{_kmeans_ctes(KMEANS_ITERS)[0]},
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT eg.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY eg.vec_id
                   ORDER BY {_DOT.format(a='eg.uv', b='c.cv')} DESC,
                            c.cell ASC) AS rn
        FROM eg, {_kmeans_ctes(KMEANS_ITERS)[1]} c) WHERE rn = 1),
    cells AS (SELECT vec_id AS doc_id, cell FROM assigned),
    tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
              FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    ctf AS (SELECT c.cell, t.term, SUM(t.tf) AS ctf
            FROM tf t JOIN cells c USING (doc_id) GROUP BY 1, 2),
    nc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs_cell
           FROM cells GROUP BY 1),
    scored AS (SELECT cell, term,
                      CAST(ctf AS DOUBLE) * (n_docs - df + 0.5) / (df + 0.5)
                        AS score
               FROM ctf JOIN dfreq USING (term), n),
    r AS (SELECT cell, term, score,
                 ROW_NUMBER() OVER (PARTITION BY cell
                     ORDER BY score DESC, term ASC) AS rank
          FROM scored)
    SELECT CAST(r.cell AS INT) AS cell, CAST(rank AS INT) AS rank, term,
           nc.n_docs_cell, score
    FROM r JOIN nc USING (cell) WHERE rank <= {TOPIC_TOPN}"""

# SemDeDup boundary-miss quantification: both legs are the already-
# green oracles composed verbatim; integer counts plus one IEEE double
# division (bit-exact cross-engine), NULL-guarded for the empty case
ORACLES["dedup_semantic_recall"] = f"""
    WITH ex AS (SELECT vec_a, vec_b
                FROM ({ORACLES["dedup_embedding_cosine"]})),
    sem AS (SELECT vec_a, vec_b FROM ({ORACLES["dedup_semantic"]})),
    ne AS (SELECT COUNT(*) AS n_exact FROM ex),
    ns AS (SELECT COUNT(*) AS n_semantic FROM sem),
    nf AS (SELECT COUNT(*) AS n_found
           FROM ex JOIN sem USING (vec_a, vec_b))
    SELECT CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST(ns.n_semantic AS BIGINT) AS n_semantic,
           CAST(nf.n_found AS BIGINT) AS n_found,
           CAST(ne.n_exact - nf.n_found AS BIGINT) AS n_missed,
           CASE WHEN ne.n_exact = 0 THEN CAST(NULL AS DOUBLE)
                ELSE CAST(nf.n_found AS DOUBLE) / ne.n_exact END AS recall
    FROM ne, ns, nf"""

# recall-of-rerank: intersection counts of the exact top-k with (a)
# the raw PQ top-k (the shortlist's rank <= k prefix) and (b) the
# exact-rescored shortlist top-k — all three legs are the already-
# green oracles composed as subqueries, integer counts only
ORACLES["sim_recall_rerank"] = f"""
    WITH ex AS (SELECT query_id, neighbor_id
                FROM ({ORACLES["sim_topk_bruteforce"]})),
    pqs AS (SELECT query_id, neighbor_id, rank
            FROM ({_pq_oracle(PQ_ITERS, TOPK * PQ_RERANK_MULT)})),
    pq10 AS (SELECT query_id, neighbor_id FROM pqs WHERE rank <= {TOPK}),
    rr AS (SELECT query_id, neighbor_id
           FROM ({ORACLES["sim_topk_pq_rerank"]})),
    ne AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY query_id),
    hp AS (SELECT query_id, COUNT(*) AS n_hits_pq
           FROM ex JOIN pq10 USING (query_id, neighbor_id)
           GROUP BY query_id),
    hr AS (SELECT query_id, COUNT(*) AS n_hits_rerank
           FROM ex JOIN rr USING (query_id, neighbor_id)
           GROUP BY query_id)
    SELECT ne.query_id, CAST(ne.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(hp.n_hits_pq, 0) AS BIGINT) AS n_hits_pq,
           CAST(COALESCE(hr.n_hits_rerank, 0) AS BIGINT) AS n_hits_rerank
    FROM ne LEFT JOIN hp USING (query_id) LEFT JOIN hr USING (query_id)"""
ORACLES["dedup_simhash_pairs"] = f"""
    WITH sh AS ({ORACLES['dedup_simhash']})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}"""

ORACLES["sim_topk_int8"] = f"""
    WITH {_EMB_D},
    qz AS (SELECT vec_id, uv,
                  nullif(list_max(list_transform(uv, x -> abs(x))) / 127.0,
                         0) AS scale
           FROM e),
    qq AS (SELECT vec_id, scale,
                  list_transform(uv, x -> floor(x / scale + 0.5)) AS q
           FROM qz),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             a.scale * b.scale * list_aggregate(
                 list_transform(range(1, len(a.q) + 1),
                                i -> a.q[i] * b.q[i]), 'sum') AS cos_sim
      FROM qq a JOIN qq b
        ON a.vec_id % {QUERY_MOD} = 0 AND a.vec_id <> b.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM scored)
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rn <= {TOPK}"""

# binary-quantization ANN: sign words packed from the RAW vector (a
# positive normalization scale never flips a sign), integer Hamming
# shortlist (bit-identical across engines), exact-cosine re-rank over
# the shared normalized-vector CTE
_BIN_WORD = ("list_aggregate(list_transform(range({lo}, {hi}), "
             "i -> CASE WHEN v[i] >= 0 THEN (1::BIGINT << (i - {lo})) "
             "ELSE 0::BIGINT END), 'sum')")
ORACLES["sim_topk_binary"] = f"""
    WITH {_EMB_D},
    w AS (SELECT vec_id,
                 {_BIN_WORD.format(lo=1, hi=33)} AS w0,
                 {_BIN_WORD.format(lo=33, hi=65)} AS w1
          FROM e0),
    sl AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                   ORDER BY bit_count(xor(a.w0, b.w0))
                            + bit_count(xor(a.w1, b.w1)) ASC,
                            b.vec_id ASC) AS rn
        FROM w a JOIN w b
          ON a.vec_id % {QUERY_MOD} = 0 AND a.vec_id <> b.vec_id)
      WHERE rn <= {TOPK * BIN_RERANK_MULT}),
    scored AS (
      SELECT sl.query_id, sl.neighbor_id,
             {_cos('qe.uv', 'ce.uv')} AS cos_sim
      FROM sl JOIN e qe ON qe.vec_id = sl.query_id
              JOIN e ce ON ce.vec_id = sl.neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
      FROM scored)
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rn <= {TOPK}"""

# near-dup cluster quality keeper: dedup_clusters' recursive
# min-reachable-id components + the quality argmax window, composed
# from the same CTEs so definitions cannot drift
ORACLES["dedup_cluster_keeper"] = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS id FROM e),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
    comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    q AS ({ORACLES['text_quality']})
    SELECT c.doc_id, c.cluster_id, q.quality,
           ROW_NUMBER() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality DESC, c.doc_id ASC) = 1 AS is_keeper
    FROM comp c JOIN q ON q.doc_id = c.doc_id"""

ORACLES["dedup_quality_keeper"] = f"""
    WITH q AS ({ORACLES['text_quality']}),
    g AS (SELECT md5(text) AS text_hash, d.doc_id, q.quality
          FROM documents d JOIN q ON q.doc_id = d.doc_id),
    ranked AS (SELECT text_hash, doc_id, quality,
                      ROW_NUMBER() OVER (PARTITION BY text_hash
                          ORDER BY quality DESC, doc_id ASC) AS rn,
                      COUNT(*) OVER (PARTITION BY text_hash) AS n_copies
               FROM g)
    SELECT text_hash, n_copies, doc_id AS keep_doc_id,
           quality AS keep_quality
    FROM ranked WHERE rn = 1 AND n_copies > 1"""


def _bm25_oracle() -> str:
    """Mirrors text.bm25_rank's exact IEEE op chain (see its docstring
    for why the idf log is omitted): integer aggregates, then the same
    left-to-right +,-,*,/ sequence per term, summed in term order."""
    terms_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    tf_sums = ", ".join(
        f"SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
        for i, t in enumerate(BM25_TERMS))
    df_maxes = ", ".join(
        f"MAX(CASE WHEN t = '{t}' THEN df END) AS df{i}"
        for i, t in enumerate(BM25_TERMS))
    parts = []
    for i in range(len(BM25_TERMS)):
        tf = f"CAST(tf{i} AS DOUBLE)"
        dfc = f"CAST(COALESCE(df{i}, 0) AS DOUBLE)"
        idf = f"((n_docs - {dfc} + 0.5) / ({dfc} + 0.5))"
        denom = (f"({tf} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} "
                 f"* (dl / (sum_dl / n_docs))))")
        parts.append(f"{idf} * ({tf} * {BM25_K1 + 1.0}) / {denom}")
    score = " + ".join(parts)
    return f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS t FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
        hits AS (SELECT doc_id, t FROM toks WHERE t IN ({terms_in})),
        tfs AS (SELECT doc_id, {tf_sums} FROM hits GROUP BY 1),
        dfs AS (SELECT {df_maxes}
                FROM (SELECT t, COUNT(DISTINCT doc_id) AS df
                      FROM hits GROUP BY 1)),
        scored AS (
          SELECT f.doc_id, {score} AS bm25
          FROM tfs f JOIN dl USING (doc_id), stats, dfs),
        ranked AS (SELECT doc_id, bm25,
                          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC)
                            AS rn
                   FROM scored)
        SELECT doc_id, CAST(rn AS INT) AS rank, bm25
        FROM ranked WHERE rn <= {BM25_TOPN}"""


ORACLES["text_bm25"] = _bm25_oracle()

# langid oracle: same first-max-wins CASE chain over marker-hit counts
_langs = sorted(text.LANG_MARKERS)
_scores = {
    lang: ("len(list_filter(tokens, t -> t IN ("
           + ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang]) + ")))")
    for lang in _langs
}
_cases = []
for _i, _lang in enumerate(_langs[:-1]):
    conds = " AND ".join(
        f"s_{_lang} >= s_{other}" for other in _langs if other != _lang)
    _cases.append(f"WHEN {conds} THEN '{_lang}'")
# Bloom prefilter never changes the answer (no false negatives + exact
# verify of survivors) — the bloom query is graded against the exact
# operator's oracle on purpose.
ORACLES["text_decontam_bloom"] = ORACLES["text_decontam"]

# fuzzy decontamination: the MinHash band join pointed across the
# candidate/benchmark split (same sig/band CTE vocabulary as
# _MINHASH_CTES), exact distinct-gram Jaccard on candidates, rational
# threshold, worst-match argmax — mirrors dedup.fuzzy_contamination
ORACLES["text_decontam_fuzzy"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    sh AS (SELECT doc_id, {_shingles_sql(SHINGLE_N)} AS shingles FROM toks),
    fl AS (SELECT doc_id,
                  ('0x' || substr(md5('bench:' || CAST(doc_id AS VARCHAR)),
                                  1, 15))::BIGINT % {DECON_MOD} = 0 AS isb
           FROM toks),
    sig AS (SELECT doc_id, [{_SIG_ITEMS}] AS sig FROM sh),
    banded AS (
      SELECT doc_id, sig, b, {_BAND_HASH} AS band_hash
      FROM sig, (VALUES {_BAND_VALUES}) AS t(b)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN fl fa ON a.doc_id = fa.doc_id AND NOT fa.isb
      JOIN banded b ON a.b = b.b AND a.band_hash = b.band_hash
      JOIN fl fb ON b.doc_id = fb.doc_id AND fb.isb),
    g AS (SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.doc_a
      JOIN g gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
      GROUP BY p.doc_a, p.doc_b),
    sc AS (
      SELECT i.doc_a, i.doc_b, i.n_inter,
             sa.n + sb.n - i.n_inter AS n_union
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b),
    hits AS (SELECT * FROM sc
             WHERE n_inter * {JACCARD_DEN} >= n_union * {JACCARD_NUM}),
    ranked AS (
      -- exact rational argmax: (i * 2^40) // u separates distinct
      -- Jaccards exactly for union sizes <= 2^20 (see
      -- dedup.fuzzy_contamination) — never a float-quotient collision
      SELECT doc_a, doc_b, n_inter, n_union,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                 ORDER BY (n_inter * 1099511627776) // n_union DESC,
                          doc_b ASC) AS rn
      FROM hits)
    SELECT doc_a AS doc_id, doc_b AS matched_bench, n_inter, n_union,
           n_inter / n_union AS jaccard
    FROM ranked WHERE rn = 1"""

# mirrors similarity.quantize_int8_report: round-half-up via
# floor(x+0.5), in-index-order IEEE folds for sse, exact integer
# position-weighted checksum, nullif guard for all-zero vectors
ORACLES["sim_quantize_int8"] = """
    WITH e0 AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    m AS (SELECT vec_id, v,
                 nullif(list_max(list_transform(v, x -> abs(x))) / 127.0, 0)
                   AS scale
          FROM e0),
    q AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> floor(x / scale + 0.5)) AS qv
          FROM m)
    SELECT vec_id, CAST(len(v) AS INT) AS n_dims, scale,
           CAST(list_aggregate(list_transform(range(1, len(v)+1),
                    i -> CAST(i AS BIGINT) * CAST(qv[i] AS BIGINT)), 'sum')
                AS BIGINT) AS q_checksum,
           list_aggregate(list_transform(range(1, len(v)+1),
                    i -> (v[i] - qv[i]*scale) * (v[i] - qv[i]*scale)), 'sum')
             AS sse
    FROM q"""

ORACLES["text_langid"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKENS} AS tokens FROM documents),
    s AS (SELECT doc_id, {', '.join(f'{_scores[lang]} AS s_{lang}' for lang in _langs)}
          FROM toks)
    SELECT doc_id, CASE {' '.join(_cases)} ELSE '{_langs[-1]}' END AS pred_lang
    FROM s"""

# recall report composes the per-method top-k oracles as subquery
# CTEs (brute force, LSH, trained IVF at nprobe 1 and 2) — integer
# counting only, no float arithmetic to keep portable. Every
# (method, query) pair is emitted (cross join vs ne), matching the
# Spark side's per-method left joins from n_exact.
ORACLES["sim_recall_ann"] = f"""
    WITH exact AS (SELECT query_id, neighbor_id
                   FROM ({ORACLES['sim_topk_bruteforce']})),
    ann AS (
      SELECT 'lsh' AS method, query_id, neighbor_id
      FROM ({ORACLES['sim_ann_lsh']})
      UNION ALL
      SELECT 'ivf1' AS method, query_id, neighbor_id
      FROM ({_ivf_trained_oracle(KMEANS_ITERS, nprobe=1)})
      UNION ALL
      SELECT 'ivf{IVF_NPROBE}' AS method, query_id, neighbor_id
      FROM ({_ivf_trained_oracle(KMEANS_ITERS, nprobe=IVF_NPROBE)})
      UNION ALL
      SELECT 'pq' AS method, query_id, neighbor_id
      FROM ({_pq_oracle(PQ_ITERS)})),
    m AS (SELECT DISTINCT method FROM ann),
    hits AS (SELECT a.method, e.query_id, COUNT(*) AS n_hits
             FROM exact e JOIN ann a
               ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
             GROUP BY 1, 2),
    ne AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY 1),
    na AS (SELECT method, query_id, COUNT(*) AS n_ann FROM ann GROUP BY 1, 2)
    SELECT m.method, ne.query_id, ne.n_exact,
           COALESCE(na.n_ann, 0) AS n_ann,
           COALESCE(hits.n_hits, 0) AS n_hits
    FROM ne CROSS JOIN m
    LEFT JOIN na   ON na.method = m.method AND na.query_id = ne.query_id
    LEFT JOIN hits ON hits.method = m.method AND hits.query_id = ne.query_id"""

ORACLES["dedup_jaccard_report"] = f"""
    WITH {_MINHASH_CTES},
    est AS (SELECT doc_a, doc_b,
                   len(list_filter(range(1, {NUM_HASHES}+1),
                                   i -> sig_a[i] = sig_b[i]))
                     / {float(NUM_HASHES)} AS est_jaccard
            FROM pairs),
    grams AS (SELECT doc_id, unnest(list_distinct(shingles)) AS g FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS ng FROM grams GROUP BY 1),
    inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
              FROM (SELECT DISTINCT doc_a, doc_b FROM pairs) p
              JOIN grams ga ON ga.doc_id = p.doc_a
              JOIN grams gb ON gb.doc_id = p.doc_b AND gb.g = ga.g
              GROUP BY 1, 2),
    ex AS (SELECT i.doc_a, i.doc_b, i.ni / (sa.ng + sb.ng - i.ni) AS jaccard
           FROM inter i
           JOIN sizes sa ON sa.doc_id = i.doc_a
           JOIN sizes sb ON sb.doc_id = i.doc_b)
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           COALESCE(x.jaccard, 0.0) AS jaccard,
           e.est_jaccard - COALESCE(x.jaccard, 0.0) AS est_error
    FROM est e
    LEFT JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b"""

ORACLES["corpus_clean"] = f"""
    WITH exact AS (SELECT * FROM ({ORACLES['dedup_exact']})),
    clusters AS (SELECT * FROM ({ORACLES['dedup_clusters']})),
    decon AS (SELECT * FROM ({ORACLES['text_decontam']})),
    d AS (SELECT doc_id, md5(text) AS text_hash,
                 ('0x' || substr(md5('bench:' || doc_id::VARCHAR), 1, 15)
                 )::BIGINT % {DECON_MOD} = 0 AS is_bench
          FROM documents)
    SELECT d.doc_id,
           CASE WHEN d.is_bench THEN 'benchmark'
                WHEN d.doc_id <> e.keep_doc_id THEN 'exact_dup'
                WHEN NOT COALESCE(c.is_keeper, TRUE) THEN 'near_dup'
                WHEN COALESCE(dc.is_contaminated, FALSE) THEN 'contaminated'
                ELSE 'keep' END AS decision
    FROM d
    JOIN exact e USING (text_hash)
    LEFT JOIN clusters c ON c.doc_id = d.doc_id
    LEFT JOIN decon dc ON dc.doc_id = d.doc_id"""



# --- distributed linear-model training (operators.ml) ---------------------


def ml_quality_probe(spark, sf_dir):
    """Closed-form distributed least squares: ONE aggregation pass
    accumulates the normal-equation sufficient statistics (Gram +
    moment sums, in-doc_id-order folds), a driver-side Cramer solve
    produces the weights (operators.ml.train_quality_probe). The
    teacher (text.quality_score thresholded at 0.525) is a KNOWN
    linear function of the features, so the probe must RECOVER the
    planted weights — reported side by side — and the Cramer
    determinant expressions are shared VERBATIM between the Python
    solve and this oracle's SQL, so the solve itself is bit-identical
    across engines."""
    return ml.train_quality_probe(_docs(spark, sf_dir))


def ml_quality_gd(spark, sf_dir):
    """Iterative distributed training: full-batch gradient descent on
    the squared loss, one map-side-combinable d-sum aggregation per
    step (the allreduce shape; operators.ml.train_quality_gd). Emits
    the (iter, mse) learning curve, which must strictly decrease —
    the oracle recomputes every step with unrolled CTEs."""
    return ml.train_quality_gd(_docs(spark, sf_dir))


def ml_quality_logit(spark, sf_dir):
    """Distributed CLASSIFIER training: full-batch gradient descent on
    a sigmoidal model of the teacher's binary keep/drop decision
    (operators.ml.train_quality_logit) — the fastText-filter shape,
    next to the regression twins. The sigmoid is the ALGEBRAIC
    softsign 0.5*(1+z/(1+|z|)) so the whole trajectory (loss curve,
    decision accuracy) is bit-identical across engines — no exp/log;
    the oracle recomputes every step with unrolled CTEs."""
    return ml.train_quality_logit(_docs(spark, sf_dir))


def ml_quality_apply(spark, sf_dir):
    """End-to-end train-then-filter: the closed-form probe's training
    pass followed by the SERVE-shape filtering pass — every document
    scored with the learned weights (4 literals, a shuffle-free
    projection fused into the scan: the actual 100 TB filtering step;
    operators.ml.train_and_filter). The oracle re-derives the weights
    with the same shared Cramer expressions and scores every doc in
    SQL."""
    return ml.train_and_filter(_docs(spark, sf_dir))


# shared feature/teacher SQL: mirrors operators.ml.quality_filter_features
# over the PROVEN quality_rules signal oracle (identical tokenization and
# division order, so every double matches bit-exact)
_QF_FEAT = f"""
    qr AS (SELECT * FROM ({{qr_oracle}})),
    feat AS (SELECT doc_id,
        1.0 AS x1,
        least(n_tokens / 100.0, 1.0) AS x2,
        1.0 - coalesce(dup_token_frac, 1.0) AS x3,
        least(coalesce(mean_word_len, 0.0) / 8.0, 1.0) AS x4,
        0.4 * least(n_tokens / 100.0, 1.0)
        + 0.4 * (1.0 - coalesce(dup_token_frac, 1.0))
        + 0.2 * least(coalesce(mean_word_len, 0.0) / 8.0, 1.0) AS s
     FROM qr)"""


def _qf_fold(expr: str) -> str:
    return f"list_aggregate(list({expr} ORDER BY f.doc_id), 'sum')"


_QF_DOT = "(w.w0 * f.x1 + w.w1 * f.x2 + w.w2 * f.x3 + w.w3 * f.x4)"


def _ml_probe_oracle() -> str:
    gram = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.x{j + 1}')} AS a{i}{j}"
        for i in range(ml.QF_D) for j in range(i, ml.QF_D))
    mom = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.s')} AS b{i}" for i in range(ml.QF_D))
    wexprs = ml.cramer_weight_exprs()
    wsel = ", ".join(f"{e} AS w{j}" for j, e in enumerate(wexprs))
    th = ml.QF_THRESHOLD
    rows = "\n    UNION ALL ".join(
        f"SELECT '{ml.QF_FEATURES[j]}' AS feature, w.w{j} AS weight, "
        f"{ml.QF_PLANTED[j]} AS planted, a.acc AS train_acc, "
        f"g.nn AS n_docs FROM w, acc a, g"
        for j in range(ml.QF_D))
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    return f"""
    WITH {feat},
    g AS (SELECT
           {gram},
           {mom},
           CAST(count(*) AS BIGINT) AS nn
          FROM feat f),
    w AS (SELECT {wsel} FROM g),
    acc AS (SELECT CAST(sum(CASE WHEN ({_QF_DOT} >= {th}) = (f.s >= {th})
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS acc
            FROM feat f, w)
    {rows}"""


def _ml_gd_oracle(iters: int, lr: float) -> str:
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    ctes = [feat,
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
            "CAST(count(*) AS BIGINT) AS nb FROM feat)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"]
    for t in range(1, iters + 1):
        grads = ",\n               ".join(
            f"{_qf_fold(f'(2.0 * ({_QF_DOT} - f.s)) * f.x{j + 1}')} AS g{j}"
            for j in range(ml.QF_D))
        ctes.append(f"""g{t} AS (SELECT
               {grads}
              FROM feat f, w{t - 1} w)""")
        upd = ", ".join(f"w.w{j} - {lr} * (g.g{j} / n.n) AS w{j}"
                        for j in range(ml.QF_D))
        ctes.append(f"w{t} AS (SELECT {upd} FROM w{t - 1} w, g{t} g, nn n)")
    for t in range(iters + 1):
        ctes.append(
            f"m{t} AS (SELECT {_qf_fold(f'({_QF_DOT} - f.s) * ({_QF_DOT} - f.s)')}"
            f" AS ss FROM feat f, w{t} w)")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS iter, m.ss / n.n AS mse, "
        f"n.nb AS n_docs FROM m{t} m, nn n" for t in range(iters + 1))
    return "WITH " + ",\n    ".join(ctes) + f"\n    {rows}"


def _ml_logit_oracle(iters: int, lr: float) -> str:
    """Unrolled-CTE twin of ``ml.train_quality_logit``: the algebraic
    sigmoid, its rational derivative, the binary teacher label, and
    the integer-exact decision accuracy, recomputed per step."""
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    th = ml.QF_THRESHOLD
    p = f"(0.5 * (1.0 + {_QF_DOT} / (1.0 + abs({_QF_DOT}))))"
    dp = f"(0.5 / ((1.0 + abs({_QF_DOT})) * (1.0 + abs({_QF_DOT}))))"
    y = f"(CASE WHEN f.s >= {th} THEN 1.0 ELSE 0.0 END)"
    ctes = [feat,
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
            "CAST(count(*) AS BIGINT) AS nb FROM feat)",
            "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"]
    for t in range(1, iters + 1):
        grads = ",\n               ".join(
            f"{_qf_fold(f'(2.0 * ({p} - {y})) * {dp} * f.x{j + 1}')} AS g{j}"
            for j in range(ml.QF_D))
        ctes.append(f"""g{t} AS (SELECT
               {grads}
              FROM feat f, w{t - 1} w)""")
        upd = ", ".join(f"w.w{j} - {lr} * (g.g{j} / n.n) AS w{j}"
                        for j in range(ml.QF_D))
        ctes.append(f"w{t} AS (SELECT {upd} FROM w{t - 1} w, g{t} g, nn n)")
    for t in range(iters + 1):
        ctes.append(
            f"m{t} AS (SELECT {_qf_fold(f'({p} - {y}) * ({p} - {y})')}"
            f" AS ss FROM feat f, w{t} w)")
        ctes.append(
            f"acc{t} AS (SELECT CAST(sum(CASE WHEN ({_QF_DOT} >= 0.0)"
            f" = (f.s >= {th}) THEN 1 ELSE 0 END) AS DOUBLE) / count(*)"
            f" AS acc FROM feat f, w{t} w)")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS iter, m.ss / n.n AS sq_loss, "
        f"a.acc AS train_acc, n.nb AS n_docs FROM m{t} m, acc{t} a, nn n"
        for t in range(iters + 1))
    return "WITH " + ",\n    ".join(ctes) + f"\n    {rows}"


ORACLES["ml_quality_probe"] = _ml_probe_oracle()
ORACLES["ml_quality_logit"] = _ml_logit_oracle(ml.QF_LOGIT_ITERS,
                                               ml.QF_LOGIT_LR)
ORACLES["ml_quality_gd"] = _ml_gd_oracle(ml.QF_GD_ITERS, ml.QF_GD_LR)
def _ml_apply_oracle() -> str:
    gram = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.x{j + 1}')} AS a{i}{j}"
        for i in range(ml.QF_D) for j in range(i, ml.QF_D))
    mom = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.s')} AS b{i}" for i in range(ml.QF_D))
    wsel = ", ".join(f"{e} AS w{j}"
                     for j, e in enumerate(ml.cramer_weight_exprs()))
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    return f"""
    WITH {feat},
    g AS (SELECT
           {gram},
           {mom}
          FROM feat f),
    w AS (SELECT {wsel} FROM g)
    SELECT f.doc_id, {_QF_DOT} AS pred_score,
           {_QF_DOT} >= {ml.QF_THRESHOLD} AS keep
    FROM feat f, w"""


ORACLES["ml_quality_apply"] = _ml_apply_oracle()


def _ml_calibration_oracle() -> str:
    """Reliability-diagram oracle: the apply oracle's weight CTEs, one
    shared floor for the bin id, per-bin in-doc_id-order folds for the
    double means (the parity path of operators.ml.calibration_report),
    integer keep counts."""
    gram = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.x{j + 1}')} AS a{i}{j}"
        for i in range(ml.QF_D) for j in range(i, ml.QF_D))
    mom = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.s')} AS b{i}" for i in range(ml.QF_D))
    wsel = ", ".join(f"{e} AS w{j}"
                     for j, e in enumerate(ml.cramer_weight_exprs()))
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    nb, th = ml.QF_CAL_BUCKETS, ml.QF_THRESHOLD
    mp = "list_aggregate(list(pred ORDER BY doc_id), 'sum') / count(*)"
    mt = "list_aggregate(list(s ORDER BY doc_id), 'sum') / count(*)"
    return f"""
    WITH {feat},
    g AS (SELECT
           {gram},
           {mom}
          FROM feat f),
    w AS (SELECT {wsel} FROM g),
    scored AS (SELECT f.doc_id, {_QF_DOT} AS pred, f.s AS s
               FROM feat f, w),
    b AS (SELECT doc_id, pred, s,
                 CAST(least(greatest(floor(pred * CAST({nb} AS DOUBLE)),
                                     0), {nb - 1}) AS INT) AS bucket
          FROM scored)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
           {mp} AS mean_pred,
           {mt} AS mean_teacher,
           CAST(sum(CASE WHEN pred >= {th} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep_pred,
           CAST(sum(CASE WHEN s >= {th} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep_teacher,
           abs({mp} - {mt}) AS cal_gap
    FROM b GROUP BY bucket"""


ORACLES["ml_quality_calibration"] = _ml_calibration_oracle()


def ml_quality_pipeline(spark, sf_dir):
    """The COMPOSED train->apply->calibrate pipeline with exactly ONE
    training aggregation (operators.ml.train_apply_calibrate):
    ml_quality_apply and ml_quality_calibration each pay their own
    training pass when run standalone; the composed form fits once
    (fit_quality_weights — pinned to a single call by
    tests/test_ml.py), scores every document shuffle-free with
    the d=4 model as literals, and broadcast-joins the <=10-row
    reliability aggregate back onto the scored frame, annotating each
    keep/drop decision with its score-bucket's calibration gap."""
    return ml.train_apply_calibrate(_docs(spark, sf_dir))


def _ml_pipeline_oracle() -> str:
    """Per-document serve + calibration-annotation oracle: the apply
    oracle's weight CTEs, the calibration oracle's bucket floor and
    in-doc_id-order fold means, joined back per document."""
    gram = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.x{j + 1}')} AS a{i}{j}"
        for i in range(ml.QF_D) for j in range(i, ml.QF_D))
    mom = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.s')} AS b{i}" for i in range(ml.QF_D))
    wsel = ", ".join(f"{e} AS w{j}"
                     for j, e in enumerate(ml.cramer_weight_exprs()))
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    nb, th = ml.QF_CAL_BUCKETS, ml.QF_THRESHOLD
    mp = "list_aggregate(list(pred ORDER BY doc_id), 'sum') / count(*)"
    mt = "list_aggregate(list(s ORDER BY doc_id), 'sum') / count(*)"
    return f"""
    WITH {feat},
    g AS (SELECT
           {gram},
           {mom}
          FROM feat f),
    w AS (SELECT {wsel} FROM g),
    scored AS (SELECT f.doc_id, {_QF_DOT} AS pred, f.s AS s
               FROM feat f, w),
    b AS (SELECT doc_id, pred, s,
                 CAST(least(greatest(floor(pred * CAST({nb} AS DOUBLE)),
                                     0), {nb - 1}) AS INT) AS bucket
          FROM scored),
    cal AS (SELECT bucket, CAST(count(*) AS BIGINT) AS bucket_n_docs,
                   abs({mp} - {mt}) AS bucket_cal_gap
            FROM b GROUP BY bucket)
    SELECT b.doc_id, b.pred AS pred_score, b.pred >= {th} AS keep,
           b.bucket, cal.bucket_n_docs, cal.bucket_cal_gap
    FROM b JOIN cal USING (bucket)"""


ORACLES["ml_quality_pipeline"] = _ml_pipeline_oracle()


def _curation_decisions_oracle() -> str:
    """streaming.pipelines.curate_batch re-derived in SQL: the
    exact-probe CTE (dedup_incremental's corpus digest set), the band
    probe (dedup_incremental_near's banded join + signature-agreement
    estimate at CURATE_NEAR_THRESHOLD), and the apply oracle's weight
    CTEs folded over the CORPUS side only — then the same first-match
    CASE. Training folds run in doc_id order over corpus docs exactly
    as fit_quality_weights' deterministic path does."""
    from demo_apache_flink_streaming_mode_spark.streaming.pipelines import (
        CURATE_NEAR_THRESHOLD)
    gram = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.x{j + 1}')} AS a{i}{j}"
        for i in range(ml.QF_D) for j in range(i, ml.QF_D))
    mom = ",\n           ".join(
        f"{_qf_fold(f'f.x{i + 1} * f.s')} AS b{i}" for i in range(ml.QF_D))
    wsel = ", ".join(f"{e} AS w{j}"
                     for j, e in enumerate(ml.cramer_weight_exprs()))
    feat = _QF_FEAT.format(qr_oracle=ORACLES["text_quality_rules"])
    return f"""
    WITH {_MINHASH_CTES},
    {feat},
    nearp AS (
      SELECT DISTINCT a.doc_id AS doc_id
      FROM banded a JOIN banded b
        ON a.b = b.b AND a.band_hash = b.band_hash
       AND a.doc_id % {INC_MOD} = 0 AND b.doc_id % {INC_MOD} <> 0
      WHERE len(list_filter(range(1, {NUM_HASHES}+1),
                            i -> a.sig[i] = b.sig[i]))
              / {float(NUM_HASHES)} >= {CURATE_NEAR_THRESHOLD}),
    dh AS (SELECT doc_id, md5(text) AS h FROM documents),
    corpus_h AS (SELECT DISTINCT h FROM dh WHERE doc_id % {INC_MOD} <> 0),
    g AS (SELECT
           {gram},
           {mom}
          FROM (SELECT * FROM feat WHERE doc_id % {INC_MOD} <> 0) f),
    w AS (SELECT {wsel} FROM g),
    scored AS (
      SELECT f.doc_id, {_QF_DOT} AS pred_score,
             {_QF_DOT} >= {ml.QF_THRESHOLD} AS quality_keep
      FROM (SELECT * FROM feat WHERE doc_id % {INC_MOD} = 0) f, w)
    SELECT s.doc_id,
           ch.h IS NOT NULL AS exact_dup,
           np.doc_id IS NOT NULL AS near_dup,
           s.pred_score, s.quality_keep,
           CASE WHEN ch.h IS NOT NULL THEN 'drop_exact'
                WHEN np.doc_id IS NOT NULL THEN 'drop_near'
                WHEN NOT s.quality_keep THEN 'drop_quality'
                ELSE 'keep' END AS decision
    FROM scored s
    JOIN dh ON dh.doc_id = s.doc_id
    LEFT JOIN corpus_h ch ON ch.h = dh.h
    LEFT JOIN nearp np ON np.doc_id = s.doc_id"""


ORACLES["corpus_curation_decisions"] = _curation_decisions_oracle()

QUERIES = [
    Query("ml_quality_probe", ml_quality_probe,
          ORACLES["ml_quality_probe"],
          "closed-form distributed least squares: one sufficient-"
          "statistics pass + shared-expression Cramer solve, planted-"
          "weight recovery"),
    Query("ml_quality_apply", ml_quality_apply, ORACLES["ml_quality_apply"],
          "train-then-filter serve shape: learned weights as literals, "
          "shuffle-free per-doc keep decision"),
    Query("ml_quality_gd", ml_quality_gd, ORACLES["ml_quality_gd"],
          "iterative distributed training: full-batch GD allreduce "
          "shape, oracle-unrolled decreasing loss curve"),
    Query("ml_quality_logit", ml_quality_logit,
          ORACLES["ml_quality_logit"],
          "sigmoidal classifier GD on the teacher's keep/drop label "
          "(algebraic softsign — engine-exact, no exp)"),
    Query("dedup_quality_keeper", dedup_quality_keeper,
          ORACLES["dedup_quality_keeper"],
          "quality-aware dedup: keep the best-scoring duplicate"),
    Query("dedup_exact", dedup_exact, ORACLES["dedup_exact"],
          "exact dedup via hash-groupBy (keeper + group size)"),
    Query("dedup_minhash_lsh", dedup_minhash_lsh, ORACLES["dedup_minhash_lsh"],
          "MinHash signatures + LSH banding -> candidate near-dup pairs"),
    Query("dedup_incremental", dedup_incremental,
          ORACLES["dedup_incremental"],
          "increment-vs-corpus exact dedup (batch status per new doc)"),
    Query("dedup_incremental_near", dedup_incremental_near,
          ORACLES["dedup_incremental_near"],
          "increment-vs-corpus MinHash-LSH near-dup probe"),
    Query("dedup_incremental_spans", dedup_incremental_spans,
          ORACLES["dedup_incremental_spans"],
          "increment-vs-corpus span probe (pre-existing-text coverage "
          "per new doc)"),
    Query("dedup_source_overlap", dedup_source_overlap,
          ORACLES["dedup_source_overlap"],
          "near-dup pair counts by unordered source pair (overlap matrix)"),
    Query("text_shard_report", text_shard_report,
          ORACLES["text_shard_report"],
          "per-shard packing manifest (docs, start offset, member tokens)"),
    Query("dedup_simhash", dedup_simhash, ORACLES["dedup_simhash"],
          "SimHash 16-bit fingerprints (bitwise majority)"),
    Query("dedup_ngram_jaccard", dedup_ngram_jaccard, ORACLES["dedup_ngram_jaccard"],
          "exact n-gram Jaccard verification of LSH candidates"),
    Query("dedup_clusters", dedup_clusters, ORACLES["dedup_clusters"],
          "transitive duplicate clusters via distributed connected components"),
    Query("dedup_cluster_keeper", dedup_cluster_keeper,
          ORACLES["dedup_cluster_keeper"],
          "quality-aware near-dup keeper: best-quality member per "
          "connected-components cluster"),
    Query("dedup_embedding_cosine", dedup_embedding_cosine,
          ORACLES["dedup_embedding_cosine"],
          "embedding-cosine near-dup pairs (threshold)"),
    Query("sim_topk_bruteforce", sim_topk_bruteforce, ORACLES["sim_topk_bruteforce"],
          "brute-force cosine top-k (exact baseline)"),
    Query("sim_ann_lsh", sim_ann_lsh, ORACLES["sim_ann_lsh"],
          "LSH-bucketed approximate top-k (scale path)"),
    Query("sim_knn_label_vote", sim_knn_label_vote,
          ORACLES["sim_knn_label_vote"],
          "kNN auto-labeling: majority label vote over LSH ANN top-k"),
    Query("sim_knn_label_vote_exact", sim_knn_label_vote_exact,
          ORACLES["sim_knn_label_vote_exact"],
          "kNN label vote over exact top-k (ground-truth baseline)"),
    Query("sim_knn_agreement", sim_knn_agreement,
          ORACLES["sim_knn_agreement"],
          "ANN-vote vs exact-vote agreement per query"),
    Query("sim_eval_retrieval", sim_eval_retrieval,
          ORACLES["sim_eval_retrieval"],
          "label-relevance search eval of the LSH ANN path: per-query "
          "precision@k + MRR (rational metrics, bit-exact)"),
    Query("dedup_cosine_lsh", dedup_cosine_lsh, ORACLES["dedup_cosine_lsh"],
          "embedding near-dup pairs behind LSH-bucket blocking (scale path)"),
    Query("dedup_semantic", dedup_semantic, ORACLES["dedup_semantic"],
          "SemDeDup: k-means-clustered embedding near-dup pairs "
          "(semantic blocking, within-cell cosine only)"),
    Query("dedup_semantic_recall", dedup_semantic_recall,
          ORACLES["dedup_semantic_recall"],
          "SemDeDup boundary-miss report: clustered pairs vs the exact "
          "baseline (counts + recall)"),
    Query("dedup_incremental_semantic", dedup_incremental_semantic,
          ORACLES["dedup_incremental_semantic"],
          "incremental SemDeDup: new batch probed into corpus-trained "
          "cells, increment x corpus within-cell only"),
    Query("sim_topk_ivf", sim_topk_ivf, ORACLES["sim_topk_ivf"],
          "IVF-cell approximate top-k (coarse quantize + probe own cell)"),
    Query("sim_topk_ivf_trained", sim_topk_ivf_trained,
          ORACLES["sim_topk_ivf_trained"],
          "IVF top-k with k-means-trained codebook (Lloyd's as DataFrame aggs)"),
    Query("sim_topk_ivf_probe2", sim_topk_ivf_probe2,
          ORACLES["sim_topk_ivf_probe2"],
          "trained IVF searching the query's 2 nearest cells (nprobe=2)"),
    Query("sim_topk_pq", sim_topk_pq, ORACLES["sim_topk_pq"],
          "product-quantization ANN: per-subspace codebooks + ADC lookup"),
    Query("sim_topk_pq_rerank", sim_topk_pq_rerank,
          ORACLES["sim_topk_pq_rerank"],
          "two-stage ANN: PQ/ADC shortlist + exact cosine re-rank on "
          "the shortlist only (FAISS refine shape)"),
    Query("sim_topk_ivfpq", sim_topk_ivfpq, ORACLES["sim_topk_ivfpq"],
          "IVF-PQ ANN: coarse k-means inverted lists + shared PQ "
          "codebook on cell residuals, per-cell residual ADC probe "
          "(FAISS IndexIVFPQ shape)"),
    Query("sim_topk_ivfpq_rerank", sim_topk_ivfpq_rerank,
          ORACLES["sim_topk_ivfpq_rerank"],
          "IVF-PQ shortlist + exact cosine re-rank (FAISS "
          "IndexIVFPQ+refine, the production deploy default)"),
    Query("sim_recall_rerank", sim_recall_rerank,
          ORACLES["sim_recall_rerank"],
          "recall report: exact top-k hits of raw PQ vs "
          "rerank-from-one-shortlist (integer counts)"),
    Query("sim_topk_binary", sim_topk_binary, ORACLES["sim_topk_binary"],
          "binary (1-bit sign) quantization ANN: integer Hamming "
          "shortlist over packed sign words + exact cosine re-rank"),
    Query("sim_topk_int8", sim_topk_int8, ORACLES["sim_topk_int8"],
          "top-k over int8-quantized unit vectors (exact integer dots)"),
    Query("dedup_simhash_pairs", dedup_simhash_pairs,
          ORACLES["dedup_simhash_pairs"],
          "SimHash near-dup pairs via pigeonhole band-blocking"),
    Query("text_bpe_stats", text_bpe_stats, ORACLES["text_bpe_stats"],
          "BPE-style regex pre-tokenization counts"),
    Query("text_bpe_train", text_bpe_train, ORACLES["text_bpe_train"],
          "BPE tokenizer training: 5 ranked merges over the word-"
          "frequency dict (oracle re-runs the full training in SQL)"),
    Query("text_bpe_encode", text_bpe_encode, ORACLES["text_bpe_encode"],
          "BPE train-then-apply: per-doc BPE token counts + compression "
          "ratio via the fitted vocab join"),
    Query("text_winnow", text_winnow, ORACLES["text_winnow"],
          "winnowing rolling-hash document fingerprint"),
    Query("dedup_winnow_pairs", dedup_winnow_pairs,
          ORACLES["dedup_winnow_pairs"],
          "MOSS-style near-dup pairs from winnow fingerprints (shared "
          "selected hashes + containment)"),
    Query("text_pack_shards", text_pack_shards, ORACLES["text_pack_shards"],
          "fixed-token-budget training-shard assignment (distributed "
          "two-phase prefix sum)"),
    Query("text_pack_sequences", text_pack_sequences,
          ORACLES["text_pack_sequences"],
          "concat-and-chunk sequence packing: (sequence, doc) token "
          "slices at fixed context length (GPT pretraining layout)"),
    Query("text_token_stats", text_token_stats, ORACLES["text_token_stats"],
          "token counting (total/distinct/chars)"),
    Query("text_ngram_diversity", text_ngram_diversity,
          ORACLES["text_ngram_diversity"],
          "corpus distinct-n diversity report (repetition diagnostic)"),
    Query("text_dup_spans", text_dup_spans, ORACLES["text_dup_spans"],
          "C4-style repeated-span boilerplate report (13-word spans in "
          ">=2 docs; exact interval-union token coverage)"),
    Query("text_strip_boilerplate", text_strip_boilerplate,
          ORACLES["text_strip_boilerplate"],
          "C4-style removal step: duplicated-span tokens deleted, "
          "cleaned text emitted"),
    Query("text_quality_rules", text_quality_rules,
          ORACLES["text_quality_rules"],
          "Gopher-style rule-based quality gate (named boolean rules + "
          "raw signals, shuffle-free)"),
    Query("text_quality_pct_rank", text_quality_pct_rank,
          ORACLES["text_quality_pct_rank"],
          "per-source percent-rank quality normalization"),
    Query("text_length_buckets", text_length_buckets,
          ORACLES["text_length_buckets"],
          "decile token-length profile via broadcast percentile bounds "
          "(scale-safe NTILE replacement)"),
    Query("text_term_counts", text_term_counts, ORACLES["text_term_counts"],
          "corpus term frequencies"),
    Query("text_langid", text_langid, ORACLES["text_langid"],
          "marker-based language ID with deterministic argmax"),
    Query("text_quality", text_quality, ORACLES["text_quality"],
          "doc quality scoring (length/diversity/token-length)"),
    Query("text_repetition", text_repetition, ORACLES["text_repetition"],
          "Gopher-style repetition signals (dup-token / top n-gram fractions)"),
    Query("text_decontam", text_decontam, ORACLES["text_decontam"],
          "benchmark decontamination (5-gram overlap vs hash-picked bench set)"),
    Query("text_tfidf", text_tfidf, ORACLES["text_tfidf"],
          "per-doc top-3 keywords by tf-idf (rational idf, bit-exact)"),
    Query("text_bm25", text_bm25, ORACLES["text_bm25"],
          "Okapi BM25 top-n relevance ranking (rational idf, bit-exact)"),
    Query("text_fingerprint", text_fingerprint, ORACLES["text_fingerprint"],
          "min-hash document fingerprint"),
    Query("text_split_assign", text_split_assign, ORACLES["text_split_assign"],
          "deterministic hash train/val/test split (leak-proof, shuffle-free)"),
    Query("text_mixture_sample", text_mixture_sample, ORACLES["text_mixture_sample"],
          "per-source mixture sampling by hash threshold"),
    Query("text_mixture_plan", text_mixture_plan,
          ORACLES["text_mixture_plan"],
          "temperature-scaled (alpha=1/2) source mixture weights and "
          "epoch token allocation"),
    Query("text_source_drift", text_source_drift,
          ORACLES["text_source_drift"],
          "per-source distribution drift: exact TV (ppm) + chi-square"),
    Query("dedup_incremental_jaccard", dedup_incremental_jaccard,
          ORACLES["dedup_incremental_jaccard"],
          "increment vs corpus exact Jaccard via frozen prefix index"),
    Query("dedup_jaccard_exact", dedup_jaccard_exact,
          ORACLES["dedup_jaccard_exact"],
          "prefix-filtered exact Jaccard join (PPJoin-style)"),
    Query("dedup_minhash_recall", dedup_minhash_recall,
          ORACLES["dedup_minhash_recall"],
          "banding-miss recall of MinHash-LSH vs gram-blocked exact"),
    Query("text_cluster_sample", text_cluster_sample,
          ORACLES["text_cluster_sample"],
          "cluster-balanced sampling: per-semantic-cell hash quota"),
    Query("text_dsir_select", text_dsir_select, ORACLES["text_dsir_select"],
          "DSIR hashed-ngram importance resampling (integer-exact)"),
    Query("corpus_prototypes", corpus_prototypes,
          ORACLES["corpus_prototypes"],
          "D4/SSL-prototypes pruning over semantic k-means cells"),
    Query("ml_quality_calibration", ml_quality_calibration,
          ORACLES["ml_quality_calibration"],
          "reliability diagram for the trained quality filter"),
    Query("ml_quality_pipeline", ml_quality_pipeline,
          ORACLES["ml_quality_pipeline"],
          "composed train->apply->calibrate: ONE training pass, "
          "per-doc decisions annotated with bucket reliability"),
    Query("text_stratified_sample", text_stratified_sample,
          ORACLES["text_stratified_sample"],
          "exact-quota stratified sample per source (salted-hash rank)"),
    Query("text_lm_familiarity", text_lm_familiarity,
          ORACLES["text_lm_familiarity"],
          "bigram-LM familiarity score (integer-exact perplexity-filter "
          "skeleton, 60-bit hashed bigram shuffle)"),
    Query("mm_manifest", mm_manifest, ORACLES["mm_manifest"],
          "multimodal binary manifest (bytes + chunking)"),
    Query("mm_decode_features", mm_decode_features, ORACLES["mm_decode_features"],
          "Arrow-batched media decode via mapInPandas (deterministic fake codec)"),
    Query("mm_resize", mm_resize, ORACLES["mm_resize"],
          "media resize kernel, 1->1 mapInPandas shape (deterministic fake codec)"),
    Query("dedup_phash_media", dedup_phash_media,
          ORACLES["dedup_phash_media"],
          "image near-dup via ring-difference dHash over the key "
          "frame + pigeonhole band join (multimodal dedup)"),
    Query("dedup_incremental_phash", dedup_incremental_phash,
          ORACLES["dedup_incremental_phash"],
          "incremental perceptual dedup: new images band-probe the "
          "standing corpus hash index"),
    Query("mm_frames", mm_frames, ORACLES["mm_frames"],
          "frame sampling kernel, 1->N mapInPandas shape (deterministic fake codec)"),
    Query("mm_decode_wav", mm_decode_wav, ORACLES["mm_decode_wav"],
          "REAL audio decode: stdlib wave RIFF round-trip via mapInPandas"),
    Query("mm_decode_image", mm_decode_image, ORACLES["mm_decode_image"],
          "REAL image decode: stdlib struct BMP round-trip via mapInPandas"),
    Query("mm_decode_png", mm_decode_png, ORACLES["mm_decode_png"],
          "REAL COMPRESSED decode: zlib PNG (CRC + DEFLATE + 5-filter "
          "reconstruction) round-trip"),
    Query("mm_decode_gif", mm_decode_gif, ORACLES["mm_decode_gif"],
          "REAL dictionary-codec decode: GIF89a from-scratch "
          "variable-width LZW round-trip"),
    Query("mm_decode_gzip", mm_decode_gzip, ORACLES["mm_decode_gzip"],
          "REAL container interop: RFC 1952 gzip stdlib-compressed, "
          "from-scratch header/CRC-32/inflate decode"),
    Query("mm_decode_bz2", mm_decode_bz2, ORACLES["mm_decode_bz2"],
          "REAL block-sorting interop: bzip2 (BWT+MTF+RLE2+Huffman "
          "groups) stdlib-compressed, from-scratch decode"),
    Query("mm_archive_zip", mm_archive_zip, ORACLES["mm_archive_zip"],
          "REAL archive interop: PKZIP corpus shards stdlib-packed, "
          "from-scratch central-directory walk + member inflate"),
    Query("mm_archive_tgz", mm_archive_tgz, ORACLES["mm_archive_tgz"],
          "COMPOSED archive-stack interop: tar.gz stdlib-packed, "
          "from-scratch gzip + ustar/pax decoders composed"),
    Query("mm_decode_video", mm_decode_video, ORACLES["mm_decode_video"],
          "REAL video decode: stdlib struct RIFF/AVI round-trip, 1->N frames"),
    Query("mm_decode_jpeg", mm_decode_jpeg, ORACLES["mm_decode_jpeg"],
          "REAL LOSSY decode: baseline JPEG (DCT + quant + Annex-K "
          "Huffman) round-trip, provable error bound"),
    Query("mm_decode_mjpeg", mm_decode_mjpeg, ORACLES["mm_decode_mjpeg"],
          "REAL COMPRESSED video decode: Motion-JPEG frames in AVI "
          "(variable-size 00dc chunks), 1->N fan-out"),
    Query("mm_decode_flac", mm_decode_flac, ORACLES["mm_decode_flac"],
          "REAL COMPRESSED LOSSLESS audio decode: from-scratch FLAC "
          "subset (fixed predictors + Rice, CRCs + MD5 verified)"),
    Query("mm_decode_flic", mm_decode_flic, ORACLES["mm_decode_flic"],
          "REAL INTER-FRAME video decode: Autodesk FLIC subset (BRUN "
          "key frame + LC line deltas on a persistent framebuffer)"),
    Query("mm_decode_mcv", mm_decode_mcv, ORACLES["mm_decode_mcv"],
          "REAL MOTION-COMPENSATED video decode: block-matching motion "
          "estimation + Rice-coded residuals (MCV1, lossless)"),
    Query("mm_decode_mcv2", mm_decode_mcv2, ORACLES["mm_decode_mcv2"],
          "REAL HALF-PEL motion-compensated video decode: sub-pixel "
          "search over a bilinear half-pel plane (MCV2, lossless)"),
    Query("mm_decode_mcv3", mm_decode_mcv3, ORACLES["mm_decode_mcv3"],
          "REAL RATE-DECIDED motion video decode: per-block SKIP/INTER/"
          "INTRA by coded-bit cost + adaptive binary range coding "
          "(MCV3, lossless)"),
    Query("mm_decode_mdct", mm_decode_mdct, ORACLES["mm_decode_mdct"],
          "REAL LOSSY transform-audio decode: MDCT/TDAC + Rice, "
          "derived sqrt(2)*sqrt(N)*q/2 < 16 error bound"),
    Query("mm_decode_mcv4", mm_decode_mcv4, ORACLES["mm_decode_mcv4"],
          "REAL BIDIRECTIONAL motion video decode: MPEG-shaped "
          "B-frames (forward/backward/bidi block prediction, coding-"
          "order reorder), lossless (MCV4)"),
    Query("mm_decode_pac", mm_decode_pac, ORACLES["mm_decode_pac"],
          "REAL PSYCHOACOUSTIC audio decode: masking-model per-band "
          "bit allocation over the MDCT core (PAC1), stream-derived "
          "provable error bound"),
    Query("sim_recall_ann", sim_recall_ann, ORACLES["sim_recall_ann"],
          "recall@k per method (LSH / IVF nprobe=1/2 / PQ) vs brute force"),
    Query("corpus_clean", corpus_clean, ORACLES["corpus_clean"],
          "end-to-end curation decision per doc (benchmark/exact/near/"
          "contaminated/keep)"),
    Query("corpus_curation_decisions", corpus_curation_decisions,
          ORACLES["corpus_curation_decisions"],
          "streaming-ingest gauntlet (curate_batch) in batch form: "
          "exact-digest + MinHash-band probes vs frozen stores + "
          "frozen quality gate, one decision per increment doc"),
    Query("corpus_topics", corpus_topics, ORACLES["corpus_topics"],
          "cluster-topic report: k-means cells x top idf-weighted "
          "labeling terms (cluster-balanced curation primitive)"),
    Query("dedup_jaccard_report", dedup_jaccard_report,
          ORACLES["dedup_jaccard_report"],
          "MinHash-estimate vs exact Jaccard per candidate pair"),
    Query("text_decontam_bloom", text_decontam_bloom,
          ORACLES["text_decontam_bloom"],
          "Bloom-bitmap prefiltered decontamination (oracle = exact op)"),
    Query("text_decontam_fuzzy", text_decontam_fuzzy,
          ORACLES["text_decontam_fuzzy"],
          "fuzzy decontamination: MinHash band join vs the benchmark "
          "set + exact Jaccard verify, rational threshold"),
    Query("sim_quantize_int8", sim_quantize_int8,
          ORACLES["sim_quantize_int8"],
          "per-vector symmetric int8 quantization + reconstruction report"),
]
