"""Text analysis operators for training-data pipelines.

Language ID (marker-word heuristic), quality scoring (continuous score
+ Gopher-style rule gate), token counting, BPE tokenizer training and
application, repeated-span boilerplate detection, and document
fingerprinting (min-hash, winnowing + MOSS-style overlap pairs) — all
pure column expressions (split / higher-order array functions / md5),
no Python in the hot path, so each is a narrow per-row map over the
corpus with at most one aggregation shuffle where the semantics
require it (term counts, span counts, BPE pair counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
from demo_apache_flink_streaming_mode_spark.operators.dedup import (
    doc_shingles, word_shingles, word_tokens)
from demo_apache_flink_streaming_mode_spark.operators.scale import ordered_sum

# Marker stopword lists per language (tiny on purpose: the mechanism —
# score-per-language + deterministic argmax — is the operator; swap in
# real frequency tables for production).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
    "zh": ("de5", "shi4", "le5", "he2", "zai4"),
}


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: total / distinct tokens + character tallies."""
    tokens = word_tokens(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.size(F.array_distinct(tokens)).alias("n_distinct"),
        F.length(F.replace(F.col(text_col), F.lit(" "), F.lit(""))).alias("n_token_chars"),
    )


def term_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide term frequencies (explode + count).

    Partial aggregation collapses counts map-side; the shuffle moves one
    row per (partition, term) — vocabulary-bounded, not corpus-bounded.
    """
    return (docs
            .select(F.explode(word_tokens(F.col(text_col))).alias("term"))
            .groupBy("term").agg(F.count("*").alias("cnt")))


def lang_scores(text: Column) -> dict[str, Column]:
    tokens = word_tokens(text)

    def marker_hits(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(tokens, lambda t: t.isin(*markers)))

    return {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}


def predict_lang(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID: argmax marker-hit count, fixed priority tie-break
    (alphabetical language order — deterministic across engines)."""
    scores = lang_scores(F.col(text_col))
    langs = sorted(scores)
    pred = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            # strict > against earlier langs (they win ties), >= against later
            c = (scores[lang] > scores[other]) if other < lang else (scores[lang] >= scores[other])
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return docs.select("doc_id", pred.otherwise(F.lit(langs[0])).alias("pred_lang"))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, lexical diversity, token-length components.

    score = 0.4*min(n_tokens/100, 1) + 0.4*(distinct/total)
          + 0.2*min(avg_token_len/8, 1). Emitted UNROUNDED: the doubles
    are bit-identical across engines (integer inputs, identical op
    order), whereas round(x, 6) on a double is NOT portable — engines
    disagree on values sitting at the 1e-7 half-way boundary.
    """
    tokens = word_tokens(F.col(text_col))
    n = F.size(tokens)
    nd = F.size(F.array_distinct(tokens))
    chars = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    # try_divide: a ZERO-token doc scores NULL instead of throwing the
    # ANSI 0/0 error (any NULL term nulls the whole sum)
    score = (
        0.4 * F.least(n / F.lit(100.0), F.lit(1.0))
        + 0.4 * F.try_divide(nd, n)
        + 0.2 * F.least(F.try_divide(chars, n) / F.lit(8.0), F.lit(1.0))
    )
    return docs.select("doc_id", score.alias("quality"))


BPE_PRETOKEN_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish pre-tokenization counts (GPT-2-style regex, simplified to
    the character classes portable across regex engines): runs of
    letters / digits / punctuation, each optionally space-prefixed —
    the split a byte-pair encoder sees before merges.

    Pure `regexp_extract_all` per row; no shuffle.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_bpe_distinct"),
    )


def winnow_fingerprint(docs: DataFrame, text_col: str = "text",
                       shingle_n: int = 3, window: int = 4) -> DataFrame:
    """Winnowing document fingerprint (rolling hash selection).

    Schleimer/Wilkerson/Aiken winnowing: hash every `shingle_n`-gram,
    slide a `window`-wide window over the hash sequence, keep each
    window's minimum; the distinct selected hashes form the
    fingerprint (returned numerically sorted and joined). Two documents
    sharing any sufficiently long run select overlapping fingerprints —
    the standard near-dup/plagiarism sketch.

    Execution shape: posexplode positions once, md5 each gram ONCE
    (codegen), rolling min as a bounded-frame window function per
    doc. A nested-HOF formulation (array_min over slice per position)
    re-evaluates the whole hash array per position — quadratic,
    interpreted, and measured 100x slower.
    """
    sel = _winnow_selected(docs, text_col, shingle_n, window)
    return (sel.groupBy("doc_id")
            .agg(F.concat_ws("|", F.transform(
                F.array_sort(F.collect_set("mn")),
                lambda x: x.cast("string"))).alias("fp")))


def _winnow_selected(docs: DataFrame, text_col: str = "text",
                     shingle_n: int = 3, window: int = 4) -> DataFrame:
    """Winnowing selection, exposed as (doc_id, mn) rows (duplicate
    selections kept — the fingerprint and pair ops dedup as needed)."""
    from pyspark.sql import Window as W

    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        spread, word_shingles, word_tokens)

    pos_grams = spread(docs, "doc_id").select(
        "doc_id",
        F.posexplode(word_shingles(word_tokens(F.col(text_col)), shingle_n))
        .alias("pos", "g"))
    h = pos_grams.select("doc_id", "pos",
                         hex_to_long(F.md5(F.col("g"))).alias("h"))
    roll = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    per_doc = W.partitionBy("doc_id")
    mins = h.select(
        "doc_id", "pos",
        F.min("h").over(roll).alias("mn"),
        F.count("*").over(per_doc).alias("n"))
    # window positions: 0 .. max(n - window, 0) (0-based; a doc shorter
    # than the window yields exactly one, full-array, minimum)
    return mins.filter(
        F.col("pos") <= F.greatest(F.col("n") - window, F.lit(0))).select(
        "doc_id", "mn")


def winnow_near_pairs(docs: DataFrame, text_col: str = "text",
                      shingle_n: int = 3, window: int = 4,
                      min_shared: int = 2) -> DataFrame:
    """MOSS-style near-dup candidate pairs from winnowing fingerprints:
    documents sharing at least ``min_shared`` selected hashes, with the
    containment score shared / min(|fp_a|, |fp_b|) — the plagiarism-
    detection use of the fingerprint (two docs sharing any
    sufficiently long run must share selected hashes).

    Scale shape: the self-join is an equi-join on the 60-bit selected
    hash (pair fan-out bounded per hash like the MinHash band join,
    never all-pairs); sizes attach by two joins against the
    vocab-bounded per-doc fingerprint sizes.  Containment is one
    integer division — cross-engine exact.
    """
    sel = _winnow_selected(docs, text_col, shingle_n, window).distinct()
    size = sel.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sel.select(F.col("doc_id").alias("doc_a"), "mn")
    b = sel.select(F.col("doc_id").alias("doc_b"), "mn")
    pairs = (a.join(b, "mn")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("shared_fp"))
             .filter(F.col("shared_fp") >= min_shared))
    sa = size.select(F.col("doc_id").alias("doc_a"),
                     F.col("sz").alias("size_a"))
    sb = size.select(F.col("doc_id").alias("doc_b"),
                     F.col("sz").alias("size_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "shared_fp", "size_a", "size_b",
                    (F.col("shared_fp")
                     / F.least("size_a", "size_b")).alias("containment")))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals per document:

    - dup_token_frac:   (n_tokens - n_distinct) / n_tokens
    - top_bigram_frac:  occurrences of the most frequent word 2-gram
                        over total 2-grams
    - top_trigram_frac: same for 3-grams

    High values flag boilerplate/spam for corpus filtering. Each n-gram
    fraction is explode + two HashAggregates (per-(doc, gram) count,
    then per-doc max/total) — map-side combinable, linear in corpus
    size; a per-row HOF counting every gram against every distinct gram
    would be quadratic per document and interpreted. The fractions are
    single integer-over-integer IEEE divisions — bit-exact on any
    engine.
    """
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        spread, word_shingles)

    toks = spread(docs, "doc_id").select(
        "doc_id", word_tokens(F.col(text_col)).alias("tokens"))
    base = toks.select(
        "doc_id",
        # try_divide: a ZERO-token doc has no dup fraction (NULL), and
        # under ANSI mode a plain 0/0 would throw, not NULL
        F.try_divide(F.size("tokens") - F.size(F.array_distinct("tokens")),
                     F.size("tokens")).alias("dup_token_frac"),
        "tokens")

    def top_frac(n: int, out: str) -> DataFrame:
        grams = toks.select(
            "doc_id", F.explode(word_shingles(F.col("tokens"), n)).alias("g"))
        per = grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        return (per.groupBy("doc_id")
                .agg((F.max("c") / F.sum("c")).alias(out)))

    return (base.select("doc_id", "dup_token_frac")
            .join(top_frac(2, "top_bigram_frac"), "doc_id")
            .join(top_frac(3, "top_trigram_frac"), "doc_id"))


def bm25_rank(docs: DataFrame, query_terms: list[str], k1: float = 1.2,
              b: float = 0.75, topn: int = 50,
              text_col: str = "text") -> DataFrame:
    """Okapi BM25 relevance ranking of documents for a bag of query
    terms (rational Robertson idf variant), top-`topn` by score.

    score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    with idf(t) = (N - df + 0.5) / (df + 0.5). The LOG around the idf
    ratio is deliberately omitted: libm log is not guaranteed to round
    identically across engines, while every operation here (integer
    aggregates, then a fixed left-to-right chain of IEEE +,-,*,/) is
    bit-deterministic — so the oracle can hash-match the doubles. The
    rational idf preserves per-term monotonicity (same ordering per
    term; cross-term weighting differs from log-BM25).

    Execution shape: one explode over the corpus feeds BOTH per-doc
    token counts (dl) and per-term postings; query-term tf's collapse
    into one row per matching doc via conditional sums (map-side
    combine); the global stats (N, avgdl, per-term df) are single-row
    aggregates attached by a broadcast equi-join on a constant key (a
    broadcast HASH join — not a nested-loop cross join). Only documents
    containing at least one query term are scored — at 100 TB the
    postings filter prunes the corpus before any per-doc work.
    """
    from demo_apache_flink_streaming_mode_spark.operators.dedup import spread

    terms = list(query_terms)
    toks = spread(docs, "doc_id").select(
        "doc_id", F.explode(word_tokens(F.col(text_col))).alias("t"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    hits = toks.filter(F.col("t").isin(terms))
    tfs = hits.groupBy("doc_id").agg(
        *[F.sum(F.when(F.col("t") == term, 1).otherwise(0)).alias(f"tf{i}")
          for i, term in enumerate(terms)])
    dfs = (hits.distinct().groupBy("t").agg(F.count("*").alias("df"))
           .agg(*[F.max(F.when(F.col("t") == term, F.col("df"))).alias(f"df{i}")
                  for i, term in enumerate(terms)]))
    # attaching single-row global aggregates IS a broadcast nested-loop
    # join in the plan — with a guaranteed 1-row build side that is an
    # O(N) pass, the right shape at any scale (allowlisted in test_plans)
    scored = (tfs.join(dl, "doc_id")
              .crossJoin(F.broadcast(stats))
              .crossJoin(F.broadcast(dfs)))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf{i}").cast("double")
        dfc = F.coalesce(F.col(f"df{i}"), F.lit(0)).cast("double")
        idf = (F.col("n_docs") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                  + F.lit(b) * (F.col("dl") / avgdl))
        part = idf * (tf * F.lit(k1 + 1.0)) / denom
        score = part if score is None else score + part
    from pyspark.sql import Window as W

    # global top-n via TakeOrderedAndProject (per-partition top-n, then
    # merge) — NOT an unpartitioned row_number window, which would sort
    # the full scored set in one task; the rank window below only ever
    # sees <= topn rows
    top = (scored.select("doc_id", score.alias("bm25"))
           .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(topn))
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("doc_id", "rank", "bm25"))


def fingerprint(docs: DataFrame, text_col: str = "text",
                shingle_n: int = 5) -> DataFrame:
    """Document fingerprint: min hash over word n-gram shingles
    (winnowing-style rolling fingerprint, collision => likely duplicate).

    Explode + groupBy(min) so md5/min run codegen'd with map-side
    combine; min over distinct shingles == min over all shingles. The
    value is the first 15 md5 hex digits as BIGINT — min(long) stays in
    HashAggregate where min(string) would force SortAggregate.
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    return (doc_shingles(docs, text_col, shingle_n)
            .groupBy("doc_id")
            .agg(F.min(hex_to_long(F.md5(F.col("g")))).alias("fingerprint")))


def tfidf_top_terms(docs: DataFrame, top_per_doc: int = 3,
                    text_col: str = "text") -> DataFrame:
    """Per-document top-``top_per_doc`` terms by tf-idf — the keyword
    extraction pass of a corpus-indexing pipeline.

    idf is the same rational Robertson form as :func:`bm25_rank`
    ((N - df + 0.5) / (df + 0.5), no libm log) so every score is a
    fixed chain of IEEE ops and the oracle hash-matches the doubles.
    Ties break by term ascending — fully deterministic output.

    Execution shape: one explode feeds per-(doc, term) tf counts
    (map-side combine), per-term document frequencies are a second
    vocab-bounded aggregation joined back ON TERM (shuffle carries
    (term, df) — never documents), the corpus size N is a 1-row
    broadcast, and the per-doc top-n is a rank window partitioned by
    doc_id — no global sort, no single-task stage anywhere.
    """
    from pyspark.sql import Window as W

    from demo_apache_flink_streaming_mode_spark.operators.dedup import spread

    toks = spread(docs, "doc_id").select(
        "doc_id", F.explode(word_tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("term")
             .agg(F.count("*").cast("double").alias("df")))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n_docs))
              .select("doc_id", "term",
                      (F.col("tf").cast("double")
                       * (F.col("n_docs") - F.col("df") + F.lit(0.5))
                       / (F.col("df") + F.lit(0.5))).alias("tfidf")))
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_per_doc)
            .select("doc_id", "rank", "term", "tfidf"))


# Simple-by-design PII patterns: character classes + bounded repetition
# only — the subset where Java regex (Spark) and RE2 (DuckDB) agree, so
# the oracle reproduces matches exactly. Production would swap in
# validated pattern packs; the operator shape (count + replace in one
# narrow projection) is the point.
PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+"
PII_PHONE = r"\+[0-9][0-9-]{6,}[0-9]"


def pii_redact(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Count and redact email/phone PII per document.

    One narrow per-row projection (regexp_extract_all + two
    regexp_replace) — no shuffle at all; at 100 TB this is a pure
    map stage that pipelines with the scan. The redacted text is
    surfaced as its md5 so downstream comparison stays 16 bytes/row.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0))).alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


def lm_familiarity(docs: DataFrame, text_col: str = "text",
                   min_count: int = 2) -> DataFrame:
    """Corpus bigram-LM familiarity score per document — the
    integer-exact skeleton of a perplexity quality filter.

    A real LM-perplexity filter scores each doc against an n-gram model
    of the corpus; the float log-prob is not portable across engines,
    so the judged form keeps the same dataflow with integer outputs:
    per doc, how many of its bigrams the corpus has seen at least
    ``min_count`` times (n_repeated), the summed corpus frequency of
    its bigrams (sum_c), and familiarity in ppm (exact integer div).
    Low familiarity = novel-or-noisy; high = boilerplate — both tails
    are curation signals.

    Scale shape: bigrams are hashed to 60-bit longs BEFORE the count
    shuffle, so the corpus-wide groupBy moves 8-byte keys, not strings;
    the count join then re-uses the same hash partitioning (one
    Exchange for count + join). Docs with fewer than two tokens surface
    with zeros via the left join — full corpus coverage.
    """
    from demo_apache_flink_streaming_mode_spark.functions.scalars import hex_to_long
    from demo_apache_flink_streaming_mode_spark.operators.dedup import word_shingles

    toks = docs.select("doc_id", word_tokens(F.col(text_col)).alias("tk"))
    bg = (toks.filter(F.size("tk") >= 2)
          .select("doc_id",
                  F.explode(word_shingles(F.col("tk"), 2)).alias("bgs"))
          .select("doc_id", hex_to_long(F.md5("bgs")).alias("bgh")))
    counts = bg.groupBy("bgh").agg(F.count("*").alias("c"))
    per_doc = (bg.join(counts, "bgh")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_bg"),
                    F.sum("c").alias("sum_c"),
                    F.sum((F.col("c") >= min_count).cast("long"))
                    .alias("n_repeated")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bg", F.lit(0)).alias("n_bg"),
                    F.coalesce("sum_c", F.lit(0)).alias("sum_c"),
                    F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
                    F.when(F.coalesce(F.col("n_bg"), F.lit(0)) == 0, F.lit(0))
                    .otherwise(F.expr("(1000000 * n_repeated) div n_bg"))
                    .alias("familiarity_ppm")))


def ngram_diversity(docs: DataFrame, ns: tuple[int, ...] = (1, 2, 3),
                    text_col: str = "text") -> DataFrame:
    """Corpus-level distinct-n diversity report: for each n, total vs
    distinct word n-grams and their ratio — the standard repetition /
    template-collapse diagnostic run over generated-text and scraped
    corpora (low distinct-2 or distinct-3 flags a degenerate source).

    One exploded pass per n; the distinct count shuffles 60-bit
    md5-derived gram hashes (``hex_to_long``), never the gram strings,
    and both counts partial-aggregate map-side. Both engines hash the
    SAME way, so the (astronomically unlikely) collision is shared and
    the oracle still matches. Short docs follow ``word_shingles``'s
    whole-text-if-shorter rule. Returns one row per n:
    (n, total_ngrams, distinct_ngrams, diversity).
    """
    toks = docs.select(word_tokens(F.col(text_col)).alias("tk"))
    out = None
    for n in ns:
        grams = toks.select(
            F.explode(word_shingles(F.col("tk"), n)).alias("g"))
        agg = (grams.agg(
                F.count("*").alias("total_ngrams"),
                F.countDistinct(hex_to_long(F.md5("g")))
                .alias("distinct_ngrams"))
               .select(F.lit(n).alias("n"), "total_ngrams",
                       "distinct_ngrams",
                       (F.col("distinct_ngrams") / F.col("total_ngrams"))
                       .alias("diversity")))
        out = agg if out is None else out.unionByName(agg)
    return out


def length_bucket_stats(docs: DataFrame, n_buckets: int = 10,
                        text_col: str = "text") -> DataFrame:
    """Percentile-bucketed document-length profile WITHOUT a global
    NTILE: an unpartitioned ``ntile(10)`` window funnels the whole
    corpus through ONE task, so instead the n-1 exact decile boundaries
    of the token count are computed by one aggregate (Spark's exact
    interpolated ``percentile``; DuckDB twin ``quantile_cont`` — same
    (n-1)*p definition, bit-identical on integer inputs), broadcast as
    a 1-row side, and each doc's bucket is 1 + #boundaries-below — a
    narrow comparison fan that scales to any corpus size.

    Buckets can be EMPTY (unlike ntile): with heavily tied lengths
    several boundaries coincide and ties all land in the highest
    qualifying bucket — the documented semantic trade for not sorting
    the corpus globally. Returns (bucket, n_docs, min_tokens,
    max_tokens, sum_tokens).
    """
    lens = docs.select(F.size(word_tokens(F.col(text_col))).alias("tok"))
    ps = [i / n_buckets for i in range(1, n_buckets)]
    bounds = lens.agg(F.percentile("tok", F.lit(ps)).alias("bs"))
    # width_bucket over the boundary array: 1 + #boundaries strictly
    # below tok, coincident boundaries each counted (that is what puts
    # ties in the highest qualifying bucket) — one array pass instead
    # of the old n-1 unrolled comparisons (r5 ADVICE #8)
    bucket = F.lit(1) + F.size(F.filter("bs", lambda b: F.col("tok") > b))
    return (lens.crossJoin(F.broadcast(bounds))
            .select(bucket.alias("bucket"), "tok")
            .groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("tok").alias("min_tokens"),
                 F.max("tok").alias("max_tokens"),
                 F.sum("tok").alias("sum_tokens")))


DUP_SPAN_N = 13        # Gopher/MassiveText-style span width, in words


def dup_span_report(docs: DataFrame, text_col: str = "text",
                    span_n: int = DUP_SPAN_N, min_docs: int = 2) -> DataFrame:
    """Repeated-span boilerplate report (C4-style inter-document span
    dedup, the line-dedup analog for unsegmented text): every window of
    ``span_n`` consecutive words is a span; a span occurring in at
    least ``min_docs`` DISTINCT documents is boilerplate/duplicated
    text.  Per document, reports how many of its spans are duplicated
    and exactly how many of its tokens are covered by at least one
    duplicated span — the interval-union "islands" measure, not the
    double-counting sum (overlapping spans share tokens).

    Scale shape: the corpus-sized shuffle carries one (16-byte digest,
    doc_id) row per token position with map-side distinct partials;
    the distinct-doc count per span is a digest-keyed aggregate; only
    spans that PASS the threshold join back (inner join on the
    digest), so the island windows run over duplicated occurrences
    only — bounded by dup density, never a full-corpus sort.  Same-doc
    repeats of a span do not make it boilerplate (that is intra-doc
    repetition, covered by ``repetition_stats``).
    """
    base = _span_base(docs, text_col, span_n)
    occ = _span_occ(base)
    dup = (occ.select("h", "doc_id").distinct()
           .groupBy("h").agg(F.count("*").alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("h"))
    return _span_coverage_report(base, occ.join(dup, "h"), span_n,
                                 "n_dup_spans", "dup_ratio")


def _span_base(docs: DataFrame, text_col: str, span_n: int) -> DataFrame:
    """(doc_id, n_tokens, spans) — spread before the per-row-heavy
    shingle map (single-split scans would run it on one core; see
    operators.dedup.spread)."""
    from demo_apache_flink_streaming_mode_spark.operators.dedup import spread

    toks = word_tokens(F.col(text_col))
    return spread(docs, "doc_id").select(
        "doc_id",
        toks.alias("tokens"),
        F.size(toks).alias("n_tokens"),
        word_shingles(toks, span_n).alias("spans"),
    )


def _span_occ(base: DataFrame) -> DataFrame:
    """Exploded span occurrences (doc_id, n_tokens, start, h); shingle
    k (0-based posexplode) starts at token position k+1."""
    return (base
            .select("doc_id", "n_tokens",
                    F.posexplode("spans").alias("pos", "span"))
            .select("doc_id", "n_tokens",
                    (F.col("pos") + 1).alias("start"),
                    F.md5("span").alias("h")))


def _span_coverage_report(base: DataFrame, hits: DataFrame, span_n: int,
                          n_col: str, ratio_col: str) -> DataFrame:
    """Per-doc interval-union coverage of span hits: a span covers
    [start, end); overlapping-or-adjacent intervals merge into islands
    via the classic running-max-of-ends window, island widths sum to
    the exact covered-token count (never double counted).  The island
    windows run over HIT occurrences only — bounded by hit density,
    never a full-corpus sort.  Docs with no hits keep a row with
    zeros."""
    per_doc = (_span_islands(hits, span_n)
               .groupBy("doc_id")
               .agg(F.sum(F.col("hi") - F.col("lo")).alias("covered_tokens"),
                    F.sum("n_occ").alias(n_col)))
    return (base.select("doc_id", "n_tokens",
                        F.size("spans").alias("n_spans"))
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_spans",
                    F.coalesce(n_col, F.lit(0)).alias(n_col),
                    F.coalesce("covered_tokens", F.lit(0))
                     .alias("covered_tokens"),
                    # try_divide: zero-token docs get a NULL ratio, not
                    # the ANSI 0/0 error
                    F.try_divide(F.coalesce("covered_tokens", F.lit(0)),
                                 F.col("n_tokens")).alias(ratio_col)))


def _span_islands(hits: DataFrame, span_n: int) -> DataFrame:
    """Merge hit spans into maximal islands per doc: one row per island
    (doc_id, island, lo, hi (exclusive), n_occ) via the classic
    running-max-of-ends window over HIT occurrences only."""
    from pyspark.sql import Window as W

    hits = hits.select("doc_id", "start",
                       F.least(F.col("start") + span_n,
                               F.col("n_tokens") + 1).alias("end"))
    w_ord = W.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("end").over(
        w_ord.rowsBetween(W.unboundedPreceding, -1))
    hits = hits.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("start") > prev_max), 1)
         .otherwise(0))
    hits = hits.withColumn(
        "island", F.sum("new_island").over(
            w_ord.rowsBetween(W.unboundedPreceding, 0)))
    return (hits.groupBy("doc_id", "island")
            .agg(F.min("start").alias("lo"), F.max("end").alias("hi"),
                 F.count("*").alias("n_occ")))


def boilerplate_strip(docs: DataFrame, text_col: str = "text",
                      span_n: int = DUP_SPAN_N,
                      min_docs: int = 2) -> DataFrame:
    """The REMOVAL step behind ``dup_span_report`` — C4 doesn't just
    measure repeated spans, it deletes them: every token covered by a
    cross-document duplicated span (the report's islands) is dropped
    and the remaining tokens re-joined, yielding the cleaned corpus a
    training pipeline actually feeds downstream.

    The token drop is a per-row indexed HOF filter against the doc's
    own (few) islands — no extra shuffle beyond the report's; docs
    with no duplicated text pass through verbatim.  Returns (doc_id,
    n_tokens, n_removed, cleaned_text).
    """
    base = _span_base(docs, text_col, span_n)
    occ = _span_occ(base)
    dup = (occ.select("h", "doc_id").distinct()
           .groupBy("h").agg(F.count("*").alias("n_docs"))
           .filter(F.col("n_docs") >= min_docs)
           .select("h"))
    iv = (_span_islands(occ.join(dup, "h"), span_n)
          .groupBy("doc_id")
          .agg(F.collect_list(F.struct("lo", "hi")).alias("iv")))
    empty = F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)")
    kept = F.filter(
        "tokens",
        lambda t, i: ~F.exists(
            "iv", lambda s: (s["lo"] <= i + 1) & (i + 1 < s["hi"])))
    return (base.select("doc_id", "tokens", "n_tokens")
            .join(iv, "doc_id", "left")
            .withColumn("iv", F.coalesce("iv", empty))
            .select("doc_id", "n_tokens",
                    (F.col("n_tokens") - F.size(kept)).alias("n_removed"),
                    F.concat_ws(" ", kept).alias("cleaned_text")))


def span_hash_index(corpus_docs: DataFrame, text_col: str = "text",
                    span_n: int = DUP_SPAN_N) -> DataFrame:
    """The STANDING span store: distinct ``span_n``-word span digests
    of the corpus — what a daily pipeline persists and probes each
    increment's spans against. Output: (h). Persist/reload through
    ``similarity.save_index``/``load_index`` (kind ``dedup_span``,
    bucketed on ``h``)."""
    return (_span_occ(_span_base(corpus_docs, text_col, span_n))
            .select("h").distinct())


def span_overlap_against(new_docs: DataFrame,
                         corpus_docs: DataFrame | None,
                         text_col: str = "text",
                         span_n: int = DUP_SPAN_N,
                         index: DataFrame | None = None) -> DataFrame:
    """Increment-vs-corpus repeated-span probe — the span-level member
    of the incremental-dedup trio (exact hash / MinHash near-dup /
    span overlap): for each NEW document, how many of its ``span_n``-
    word spans ALREADY EXIST anywhere in the standing corpus, and the
    exact interval-union token coverage of that pre-existing text.
    High overlap_ratio = the "new" doc is mostly text the corpus
    already has (a partial mirror, a quote farm, a template) even when
    no single corpus doc is a near-duplicate of it.

    At 100 TB the corpus leg is the persisted distinct span-hash index
    a daily pipeline maintains; each day ships one digest equi-join of
    the increment's spans against it — the same probe-the-index shape
    as ``dedup.lsh_candidates_against``, and the hit explode +
    equi-join is stateless, so the dataflow runs stream-static
    unchanged.

    ``index`` plugs in a prebuilt (possibly reloaded-from-storage)
    :func:`span_hash_index`; ``corpus_docs`` may then be None.
    """
    base = _span_base(new_docs, text_col, span_n)
    occ = _span_occ(base)
    idx = (index if index is not None
           else span_hash_index(corpus_docs, text_col, span_n))
    return _span_coverage_report(base, occ.join(idx, "h"), span_n,
                                 "n_corpus_spans", "overlap_ratio")


# Gopher rule-filter constants (Rae et al. 2021, MassiveText §A1.1),
# adapted where the signal needs unsegmented text: the duplicate-line
# rules have no lines to work on here, so the repetition gate is the
# duplicate-token fraction (the same family as repetition_stats).
GOPHER_STOPWORDS = ("the", "a", "of", "and", "is", "in", "to", "be",
                    "that", "it")
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_MWL, GOPHER_MAX_MWL = 3.0, 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MAX_DUP_TOKEN_FRAC = 0.60


def quality_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style RULE-BASED quality gate — the boolean complement of
    the continuous ``quality_score``: each document passes or fails a
    set of named heuristic rules, and ``keep`` is their conjunction.
    Rules (constants above): word count in [50, 100k], mean word
    length in [3, 10], at least 2 stopwords, >= 80% of words contain
    an alphabetic character, and duplicate-token fraction <= 0.6 (the
    unsegmented-text stand-in for Gopher's duplicate-line rules).

    One shuffle-free projection: every signal and every gate is a
    column expression over the token array — at 100 TB this is a
    narrow per-row map that fuses into the scan.  The raw signals are
    emitted alongside the flags so threshold changes are an analyst
    query, not a recompute.

    Zero-token documents: the three ratio signals are NULL
    (``try_divide`` — plain ``/`` throws DIVIDE_BY_ZERO under ANSI
    mode) and every flag is coalesced to FALSE, so a degenerate doc is
    rejected rather than crashing the gate.
    """
    tokens = word_tokens(F.col(text_col))
    n = F.size(tokens)
    chars = F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    mwl = F.try_divide(chars, n)
    n_stop = F.size(F.filter(tokens, lambda t: t.isin(*GOPHER_STOPWORDS)))
    alpha = F.try_divide(F.size(F.filter(tokens, lambda t: t.rlike("[a-z]"))), n)
    dup_frac = F.try_divide(n - F.size(F.array_distinct(tokens)), n)
    ok_len = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    ok_mwl = F.coalesce((mwl >= GOPHER_MIN_MWL) & (mwl <= GOPHER_MAX_MWL),
                        F.lit(False))
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    ok_alpha = F.coalesce(alpha >= GOPHER_MIN_ALPHA_FRAC, F.lit(False))
    ok_rep = F.coalesce(dup_frac <= GOPHER_MAX_DUP_TOKEN_FRAC, F.lit(False))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        mwl.alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        alpha.alias("alpha_frac"),
        dup_frac.alias("dup_token_frac"),
        ok_len.alias("ok_length"),
        ok_mwl.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        ok_rep.alias("ok_repetition"),
        (ok_len & ok_mwl & ok_stop & ok_alpha & ok_rep).alias("keep"),
    )


BPE_MERGES = 5


def bpe_train(docs: DataFrame, text_col: str = "text",
              merges: int = BPE_MERGES) -> DataFrame:
    """BPE tokenizer TRAINING as pure DataFrame dataflow (no driver-side
    data loop): learn ``merges`` byte-pair merges over the corpus and
    return the ranked merge table (rank, left_sym, right_sym, weight).
    (``_bpe_fit`` below also exposes the fitted per-word sequences for
    ``bpe_encode``.)

    Classic scalable formulation: train on the WORD-FREQUENCY DICT,
    not the raw corpus — one corpus scan builds (word, count), then
    every iteration is vocabulary-bounded.  Each round: (1) explode
    each distinct word's current symbol sequence into adjacent pairs
    weighted by word count, (2) pick the heaviest pair (ties: weight
    desc, then left/right symbol asc — deterministic on any engine),
    (3) apply the merge to every sequence as a LEFT FOLD over the
    symbols (``F.aggregate``), which gives the standard greedy
    non-overlapping semantics ("aaa" + (a,a) -> [aa, a]).  The chosen
    pair stays a 1-row broadcast DataFrame — the merge constant never
    passes through the driver, so the whole training is one lazy plan
    per round.

    Scale shape: corpus scanned ONCE (the dict is checkpointed);
    per round, the pair shuffle is vocab-bounded with map-side
    partials, the argmax is a 1-row TakeOrdered, and the merge
    application is a narrow per-row fold.  ``cut_lineage`` between
    rounds keeps plans linear (same pattern as ``kmeans_centroids``).
    """
    return _bpe_fit(docs, text_col, merges)[0]


def _bpe_fit(docs: DataFrame, text_col: str,
             merges: int) -> tuple[DataFrame, DataFrame]:
    """Shared trainer: returns (ranked merge table, fitted per-word
    sequences (w, cnt, seq) after all merges)."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        cut_lineage)

    words = (docs.select(F.explode(word_tokens(F.col(text_col))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("cnt")))
    seqs = cut_lineage(words.select("w", "cnt",
                                    F.split("w", "").alias("seq")))

    ranked = []
    for rank in range(1, merges + 1):
        tail = F.slice("seq", 2, F.greatest(F.size("seq") - 1, F.lit(0)))
        prs = F.filter(
            F.zip_with("seq", tail,
                       lambda a, b: F.struct(a.alias("a"), b.alias("b"))),
            lambda s: s["b"].isNotNull())
        best = cut_lineage(
            seqs.select("cnt", F.explode(prs).alias("p"))
                .groupBy(F.col("p.a").alias("lhs"), F.col("p.b").alias("rhs"))
                .agg(F.sum("cnt").alias("weight"))
                .orderBy(F.col("weight").desc(), F.col("lhs").asc(),
                         F.col("rhs").asc())
                .limit(1))
        ranked.append(best.select(F.lit(rank).alias("rank"),
                                  F.col("lhs").alias("left_sym"),
                                  F.col("rhs").alias("right_sym"), "weight"))
        merged = F.aggregate(
            "seq", F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("_ml"))
                & (x == F.col("_mr")),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(F.col("_ml"), F.col("_mr")))))
             .otherwise(F.concat(acc, F.array(x))))
        seqs = cut_lineage(
            seqs.crossJoin(F.broadcast(
                best.select(F.col("lhs").alias("_ml"),
                            F.col("rhs").alias("_mr"))))
                .select("w", "cnt", merged.alias("seq")))

    table = ranked[0]
    for nxt in ranked[1:]:
        table = table.unionByName(nxt)
    return table, seqs


def bpe_encode(docs: DataFrame, text_col: str = "text",
               merges: int = BPE_MERGES) -> DataFrame:
    """Apply a freshly-trained BPE tokenizer back to the corpus: per
    document, word count, character count, BPE token count, and the
    tokens-per-character compression ratio — the train-then-apply
    round trip of a real tokenizer pipeline.

    The fitted vocabulary is (word -> symbol count), vocab-bounded, so
    the encode is one equi-join of the exploded corpus against the
    dict on the word (AQE broadcasts it when small) plus one per-doc
    aggregate.  At 100 TB the dict comes from a persisted training
    run; here it is fit in-line for a self-contained, oracle-exact
    query.
    """
    _, seqs = _bpe_fit(docs, text_col, merges)
    dict_len = seqs.select("w", F.size("seq").alias("n_sym"))
    doc_words = docs.select(
        "doc_id", F.explode(word_tokens(F.col(text_col))).alias("w"))
    return (doc_words.join(dict_len, "w")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_words"),
                 F.sum(F.length("w")).alias("n_chars"),
                 F.sum("n_sym").alias("n_bpe_tokens"))
            .select("doc_id", "n_words", "n_chars", "n_bpe_tokens",
                    (F.col("n_bpe_tokens") / F.col("n_chars"))
                    .alias("bpe_ratio")))


def source_drift_report(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Per-source token-distribution drift against the corpus — the
    data-drift monitoring step a production pipeline runs when sources
    are ingested continuously (a crawl snapshot that silently changed
    its mix shows up here before it poisons the trained filters).

    Two metrics per source, one row each:

    * ``tv_ppm`` — total-variation distance between the source's token
      distribution and the corpus distribution, EXACT integer
      arithmetic: TV = 1/2 * sum_t |obs_t/n_src - tf_t/n_total| is put
      over the common denominator 2*n_src*n_total, so the numerator is
      a sum of |obs_t*n_total - tf_t*n_src| integers and terms ABSENT
      from the source contribute (n_total - sum_present tf_t) * n_src
      in closed form — no source x vocabulary grid is ever built.
      Reported as the ppm integer division. (int64 holds this up to
      ~10^6-token corpora per the 1e6 * 2*n*N product; swap the ppm
      step to DECIMAL(38,0) beyond that.)
    * ``chi2`` — Pearson's statistic against the corpus-share expected
      counts; same grid-avoidance: sum_t over present terms of
      ((obs-e)^2/e - e) + n_src, since absent terms contribute exactly
      e and all e sum to n_src. Doubles, so the per-source reduction
      is an in-term-order left fold (``operators.scale.ordered_sum``).

    Scale shape: one vocab-bounded shuffle for the per-source counts
    (map-side combinable), the corpus table reuses the same counts, the
    1-row corpus total attaches by broadcast, and the final aggregate
    has one row per source.
    """
    tok = docs.select("source",
                      F.explode(word_tokens(F.col(text_col))).alias("term"))
    stf = tok.groupBy("source", "term").agg(F.count("*").alias("obs"))
    ctf = stf.groupBy("term").agg(F.sum("obs").alias("tf_c"))
    ns = stf.groupBy("source").agg(F.sum("obs").alias("n_tokens"),
                                   F.count("*").alias("n_terms"))
    nt = stf.agg(F.sum("obs").alias("n_total"))
    j = (stf.join(ctf, "term").join(ns, "source")
         .crossJoin(F.broadcast(nt)))
    e = F.col("tf_c").cast("double") * F.col("n_tokens") / F.col("n_total")
    d = F.col("obs") - e
    per = (j.groupBy("source")
           .agg(ordered_sum("term", d * d / e - e).alias("chi_part"),
                F.sum(F.abs(F.col("obs") * F.col("n_total")
                            - F.col("tf_c") * F.col("n_tokens")))
                .alias("tv_present"),
                F.sum("tf_c").alias("tfc_present")))
    return (per.join(ns, "source").crossJoin(F.broadcast(nt))
            .select("source", "n_tokens", "n_terms",
                    F.expr("(1000000 * (tv_present + (n_total - tfc_present)"
                           " * n_tokens)) div (2 * n_tokens * n_total)")
                    .alias("tv_ppm"),
                    (F.col("chi_part") + F.col("n_tokens")).alias("chi2")))
