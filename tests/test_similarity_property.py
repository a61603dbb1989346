"""Property test: exact brute-force cosine top-k vs a sequential
reference — EXACT double equality.

The normalize/dot kernels are left-associative IEEE folds in index
order, so a plain Python walk (acc += x*x, acc += qa*ca, same order)
reproduces cosine scores bit-for-bit; the ranking reference re-states
the (score desc, neighbor id asc) tiebreak.  Integer-grid vectors
produce frequent EXACT score ties, the regime where an unstable sort
would diverge.
"""

from __future__ import annotations

import math

import hypo
from hypothesis import HealthCheck, given, settings, strategies as st

from demo_apache_flink_streaming_mode_spark.operators import similarity as S

DIM = 3

vec = st.lists(st.integers(-5, 5), min_size=DIM, max_size=DIM).map(
    lambda v: v if any(v) else [1] + v[1:])  # no zero-norm vectors
corpus = st.lists(vec, min_size=2, max_size=8).map(
    lambda vs: [(i + 1, [float(x) for x in v]) for i, v in enumerate(vs)])


def _unit(v):
    acc = 0.0
    for x in v:
        acc = acc + x * x
    n = math.sqrt(acc)
    return [x / n for x in v]


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


@hypo.budget(12)
@given(rows=corpus, k=st.sampled_from([1, 3]), unrolled=st.booleans())
def test_topk_bruteforce_matches_reference(spark, rows, k, unrolled):
    qrows = rows[:2]
    units = {i: _unit(v) for i, v in rows}
    want = set()
    for qid, _ in qrows:
        scored = sorted(
            ((-_dot(units[qid], units[nid]), nid) for nid, _ in rows
             if nid != qid))
        for rank, (neg, nid) in enumerate(scored[:k], 1):
            want.add((qid, rank, nid, -neg))
    schema = "vec_id long, embedding array<double>"
    got = {(r.query_id, r.rank, r.neighbor_id, r.cos_sim)
           for r in S.topk_bruteforce(
               spark.createDataFrame(qrows, schema),
               spark.createDataFrame(rows, schema), k,
               dim=DIM if unrolled else None).collect()}
    assert got == want


@hypo.budget(10)
@given(rows=st.lists(st.lists(st.floats(-3, 3, allow_nan=False,
                                        width=32),
                              min_size=4, max_size=4),
                     min_size=1, max_size=6).map(
    lambda vs: [(i + 1, v) for i, v in enumerate(vs)]))
def test_sql_string_expressions_match_column_path(spark, rows):
    """Guard for the r7 plan-construction optimization: the one-string
    F.expr forms of dot_unrolled / dot_literal / lsh_bucket must be
    BIT-IDENTICAL to the original per-term Column composition (SQL +
    parses left-associative, so the trees are the same shape)."""
    from pyspark.sql import functions as F

    from demo_apache_flink_streaming_mode_spark.functions.scalars import (
        dot_literal, dot_unrolled)

    dim = 4
    planes = [S.hyperplane(j, dim) for j in range(3)]
    df = spark.createDataFrame(
        [(i, v, v[::-1]) for i, v in rows],
        "vec_id long, a array<double>, b array<double>")
    got = df.select(
        dot_unrolled("a", "b", dim).alias("d_str"),
        dot_unrolled(F.col("a"), F.col("b"), dim).alias("d_col"),
        dot_literal("a", planes[0]).alias("l_str"),
        dot_literal(F.col("a"), planes[0]).alias("l_col"),
        S.lsh_bucket("a", planes).alias("b_str"),
        S.lsh_bucket(F.col("a"), planes).alias("b_col")).collect()
    for r in got:
        assert r.d_str == r.d_col
        assert r.l_str == r.l_col
        assert r.b_str == r.b_col


def test_residual_pq_beats_flat_pq_quantization_error(spark, sf_dir):
    """The design claim behind IVF-PQ: at EQUAL code budget, a PQ
    codebook trained on cell residuals (uv - centroid) quantizes with
    LOWER total squared error than one trained on the raw unit
    vectors, because residuals concentrate near zero. Measured as the
    summed nearest-code L2^2 over the whole corpus under each scheme's
    own trained codebook — the textbook IndexIVFPQ justification,
    proven on the real embeddings rather than asserted."""
    from pyspark.sql import functions as F
    from demo_apache_flink_streaming_mode_spark.operators import similarity
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        DIM, KMEANS_ITERS, N_CELLS, PQ_CODES, PQ_ITERS, PQ_M, PQ_SUB_DIM)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    embs = load_table(spark, sf_dir, "embeddings")

    def total_sq_err(vec_frame, vec_col):
        cb = similarity.pq_train_codebooks(
            vec_frame, PQ_M, PQ_SUB_DIM, PQ_CODES, PQ_ITERS,
            "vec_id", vec_col)
        sub = similarity.pq_subvectors(vec_frame, PQ_M, PQ_SUB_DIM,
                                       "vec_id", vec_col)
        asg = similarity.pq_assign(sub, cb, "vec_id")
        d = (asg.join(F.broadcast(cb), ["m", "code"])
             .agg(F.sum(similarity._l2sq(F.col("sv"), F.col("cv"))))
             .collect()[0][0])
        return float(d)

    u = (similarity.unit_vectors(embs, "vec_id", "embedding", "vec_id",
                                 "uv")
         .filter(F.col("uv").getItem(0).isNotNull()))
    flat_err = total_sq_err(u, "uv")

    cent = similarity.kmeans_centroids(u, N_CELLS, KMEANS_ITERS,
                                       "vec_id", "uv", dim=DIM)
    resid = (similarity.ivf_assign(u, cent, "vec_id", "uv", dim=DIM)
             .join(F.broadcast(cent), "cell")
             .select("vec_id",
                     F.zip_with("uv", "cv", lambda x, c: x - c)
                     .alias("rv")))
    resid_err = total_sq_err(resid, "rv")

    assert 0 < resid_err < flat_err, (resid_err, flat_err)


@hypo.budget(12)
@given(rows=corpus, k=st.sampled_from([1, 3]), mult=st.sampled_from([1, 2]))
def test_topk_binary_rerank_matches_reference(spark, rows, k, mult):
    """topk_binary_rerank vs a sequential reference: the packed sign
    words, the integer Hamming shortlist with its (distance, id)
    tiebreak, and the exact-cosine re-rank (same in-order IEEE folds
    as the brute-force reference) — exact equality including scores.
    Integer-grid vectors produce frequent ties in BOTH stages (equal
    Hamming distances everywhere, exact cosine ties), the regime where
    an unstable sort would diverge."""
    qrows = rows[:2]
    units = {i: _unit(v) for i, v in rows}
    words = {i: sum(1 << j for j, x in enumerate(v) if x >= 0)
             for i, v in rows}
    want = set()
    for qid, _ in qrows:
        sl = sorted((bin(words[qid] ^ words[nid]).count("1"), nid)
                    for nid, _ in rows if nid != qid)[:k * mult]
        scored = sorted((-_dot(units[qid], units[nid]), nid)
                        for _, nid in sl)
        for rank, (neg, nid) in enumerate(scored[:k], 1):
            want.add((qid, rank, nid, -neg))
    schema = "vec_id long, embedding array<double>"
    got = {(r.query_id, r.rank, r.neighbor_id, r.cos_sim)
           for r in S.topk_binary_rerank(
               spark.createDataFrame(qrows, schema),
               spark.createDataFrame(rows, schema), k,
               dim=DIM, mult=mult).collect()}
    assert got == want


def test_binary_sign_words_quotes_backticks_in_column_name(spark):
    """A vector column whose name holds a backtick packs the same words
    as one with a plain name (the name is pasted into an ``F.expr``)."""
    rows = [(1, [0.5, -1.0, 0.0, -0.25] * 9), (2, [-2.0, 3.0, -0.5, 1.0] * 9)]
    df = spark.createDataFrame(rows, "vec_id long, plain array<double>")
    df = df.withColumn("we`ird ``name", df["plain"])
    dim = 36  # two words, the second partly filled
    plain = S.binary_sign_words("plain", dim)
    odd = S.binary_sign_words("we`ird ``name", dim)
    got = df.select("vec_id", *[w.alias(f"p{j}") for j, w in enumerate(plain)],
                    *[w.alias(f"o{j}") for j, w in enumerate(odd)]
                    ).orderBy("vec_id").collect()
    assert [(r.p0, r.p1) for r in got] == [(r.o0, r.o1) for r in got]
    assert got[0].p0 == sum(1 << i for i in range(32) if i % 4 in (0, 2))
