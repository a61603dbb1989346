"""Edge-case tests for asof_join and salted_join (hand-built inputs)."""

from __future__ import annotations

import functools
import operator

import hypo
import pytest
from hypothesis import given, strategies as st
from pyspark.sql import functions as F

from demo_apache_flink_streaming_mode_spark.operators.joins import asof_join
from demo_apache_flink_streaming_mode_spark.operators.scale import salted_join


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 5, "t1"), ("A", 10, "t2"), ("A", 20, "t3"), ("B", 7, "t4")],
        "sym string, t_ms long, trade_id string")
    quotes = spark.createDataFrame(
        [("A", 4, 100.0), ("A", 10, 101.0), ("A", 15, 102.0), ("C", 1, 9.0)],
        "sym string, q_ms long, px double")
    return trades, quotes


def test_asof_picks_latest_at_or_before(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = {r["trade_id"]: (r["q_ms"], r["px"])
           for r in asof_join(trades, quotes, "sym", "t_ms", "q_ms").collect()}
    assert out["t1"] == (4, 100.0)        # strictly-before quote
    assert out["t2"] == (10, 101.0)       # equal timestamp IS visible (<=)
    assert out["t3"] == (15, 102.0)       # latest of several, not just any
    assert out["t4"] == (None, None)      # key with no quotes -> nulls


def test_asof_no_right_rows_at_all(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes.filter(F.lit(False)), "sym", "t_ms", "q_ms")
    rows = out.collect()
    assert len(rows) == 4 and all(r["px"] is None for r in rows)


def test_asof_colliding_right_timestamps_deterministic(spark):
    """Right rows colliding on (key, ts) resolve to the greatest by the
    tiebreak (default: payload struct order) — same answer as a DuckDB
    window query implementing the documented rule."""
    import duckdb

    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 30, "t2")], "sym string, t_ms long, trade_id string")
    quotes = spark.createDataFrame(
        [("A", 10, 1, 100.0), ("A", 10, 3, 103.0), ("A", 10, 2, 102.0)],
        "sym string, q_ms long, seq int, px double")
    got = {r["trade_id"]: (r["seq"], r["px"])
           for r in asof_join(trades, quotes, "sym", "t_ms", "q_ms",
                              tiebreak=["seq"]).collect()}
    # explicit tiebreak: greatest seq wins for both trades
    assert got == {"t1": (3, 103.0), "t2": (3, 103.0)}

    # default tiebreak (payload struct, field order seq,px) agrees here
    got_default = {r["trade_id"]: (r["seq"], r["px"])
                   for r in asof_join(trades, quotes, "sym", "t_ms",
                                      "q_ms").collect()}
    assert got_default == got

    # DuckDB twin of the documented rule (latest ts, tie -> max seq)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(sym VARCHAR, t_ms BIGINT, trade_id VARCHAR)")
    con.execute("CREATE TABLE q(sym VARCHAR, q_ms BIGINT, seq INT, px DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)",
                    [("A", 10, "t1"), ("A", 30, "t2")])
    con.executemany("INSERT INTO q VALUES (?,?,?,?)",
                    [("A", 10, 1, 100.0), ("A", 10, 3, 103.0), ("A", 10, 2, 102.0)])
    want = {r[0]: (r[1], r[2]) for r in con.execute("""
        SELECT trade_id, seq, px FROM (
          SELECT t.trade_id, q.seq, q.px,
                 ROW_NUMBER() OVER (PARTITION BY t.trade_id
                                    ORDER BY q.q_ms DESC, q.seq DESC) AS rn
          FROM t JOIN q ON t.sym = q.sym AND q.q_ms <= t.t_ms)
        WHERE rn = 1""").fetchall()}
    con.close()
    assert got == want


def test_asof_null_right_payload_stays_row_consistent(spark):
    """A legitimately-NULL right payload column must not be backfilled
    from an OLDER right row: all right columns come from the same row
    (single struct carry)."""
    trades = spark.createDataFrame(
        [("A", 20, "t1")], "sym string, t_ms long, trade_id string")
    quotes = spark.createDataFrame(
        [("A", 5, 100.0, "src-old"), ("A", 10, None, "src-new")],
        "sym string, q_ms long, px double, src string")
    (row,) = asof_join(trades, quotes, "sym", "t_ms", "q_ms").collect()
    # latest row is q_ms=10 whose px is genuinely NULL — it must stay
    # NULL, not borrow 100.0 from the q_ms=5 row
    assert (row["q_ms"], row["px"], row["src"]) == (10, None, "src-new")


def test_lsh_banding_must_cover_signature(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        lsh_candidate_pairs)
    sigs = spark.createDataFrame([(1, [1, 2, 3, 4])], "doc_id long, sig array<long>")
    with pytest.raises(ValueError, match="does not cover"):
        lsh_candidate_pairs(sigs, bands=4, rows_per_band=2, num_hashes=4)


def test_salted_join_matches_plain_join(spark):
    left = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("lv"))
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(7)], "k long, rv string")
    plain = sorted(left.join(right, "k").collect())
    salted = sorted(salted_join(left, right, "k", buckets=8).collect())
    assert plain == salted


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k long, lv string")
    right = spark.createDataFrame([(1, "x")], "k long, rv string")
    rows = {r["k"]: r["rv"]
            for r in salted_join(left, right, "k", buckets=4, how="left").collect()}
    assert rows == {1: "x", 99: None}


def test_salted_join_rejects_right_outer(spark):
    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="right")


def test_interval_join_boundaries_and_bins(spark):
    from demo_apache_flink_streaming_mode_spark.operators.joins import interval_join
    left = spark.createDataFrame([(1, 1000), (2, 5000)], "lid long, lt long")
    right = spark.createDataFrame(
        [(10, 899), (11, 900), (12, 1100), (13, 1101), (14, 999_999),
         (15, 4899), (16, 4900), (17, 5100), (18, 5101)],
        "rid long, rt long")
    out = sorted((r["lid"], r["rid"]) for r in
                 interval_join(left, right, "lt", "rt", -100, 100).collect())
    # inclusive at both edges, exclusive just past them, bins can't drop pairs
    assert out == [(1, 11), (1, 12), (2, 16), (2, 17)]


def test_interval_join_one_sided_lag(spark):
    from demo_apache_flink_streaming_mode_spark.operators.joins import interval_join
    left = spark.createDataFrame([(1, 1000)], "lid long, lt long")
    right = spark.createDataFrame([(10, 985), (11, 995), (12, 1004)],
                                  "rid long, rt long")
    out = sorted(r["rid"] for r in
                 interval_join(left, right, "lt", "rt", -15, -5).collect())
    assert out == [10, 11]  # strictly-before window [lt-15, lt-5]


def test_interval_join_rejects_empty_interval(spark):
    from demo_apache_flink_streaming_mode_spark.operators.joins import interval_join
    import pytest as pt
    df = spark.createDataFrame([(1, 1)], "a long, t long")
    with pt.raises(ValueError):
        interval_join(df, df.withColumnRenamed("a", "b"), "t", "t", 5, 5)


def test_connected_components_chain_and_islands(spark):
    """A 9-node path (worst-case diameter for min propagation), a
    2-node island, and a disconnected pair all resolve to their
    component minimum; singleton docs never appear."""
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        connected_components)
    chain = [(i, i + 1) for i in range(10, 18)]          # 10-11-...-18
    pairs = spark.createDataFrame(
        chain + [(30, 31), (41, 40)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert got == {**{i: 10 for i in range(10, 19)}, 30: 30, 31: 30,
                   40: 40, 41: 40}


def test_connected_components_partitioning_invariant(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        connected_components)
    pairs = spark.createDataFrame(
        [(i, (i * 3) % 17) for i in range(17) if i != (i * 3) % 17],
        "doc_a long, doc_b long")
    a = sorted(map(tuple, connected_components(pairs.repartition(5)).collect()))
    b = sorted(map(tuple, connected_components(pairs.repartition(2)).collect()))
    assert a == b and len(a) > 0


def test_bm25_absent_query_term_scores_zero_not_null(spark):
    from demo_apache_flink_streaming_mode_spark.operators.text import bm25_rank
    docs = spark.createDataFrame(
        [(1, "spark spark fast"), (2, "slow batch job"), (3, "spark job")],
        "doc_id long, text string")
    rows = bm25_rank(docs, ["spark", "nosuchterm"], topn=10).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # doc 2 has no query terms at all -> not scored
    assert set(by_id) == {1, 3}
    assert all(r["bm25"] is not None for r in rows)
    # doc 1 (tf=2, shorter-field effects aside) outranks doc 3 (tf=1)
    assert by_id[1]["rank"] == 1 and by_id[3]["rank"] == 2
    assert by_id[1]["bm25"] > by_id[3]["bm25"] > 0


@pytest.fixture(scope="module")
def unit_vecs(spark):
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        unit_vectors)
    raw = spark.createDataFrame(
        [(i, [float((i * 7 + j * 13) % 19) - 9.0 for j in range(4)])
         for i in range(60)],
        "vec_id long, embedding array<double>")
    return unit_vectors(raw)


def test_kmeans_centroids_partitioning_invariant(spark, unit_vecs):
    """The trained codebook must be bit-identical regardless of how the
    input is partitioned — the whole point of the in-id-order fold mean
    (a parallel F.avg would drift in the last ulp between layouts)."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        kmeans_centroids)
    a = kmeans_centroids(unit_vecs.repartition(7), n_cells=4, iters=2, dim=4)
    b = kmeans_centroids(unit_vecs.repartition(3), n_cells=4, iters=2, dim=4)
    ra = sorted((r["cell"], tuple(r["cv"])) for r in a.collect())
    rb = sorted((r["cell"], tuple(r["cv"])) for r in b.collect())
    assert ra == rb and len(ra) > 0


def test_kmeans_one_iteration_is_cell_means(spark, unit_vecs):
    """After one Lloyd's pass each centroid equals the plain mean of its
    seed-assigned members (checked against a driver-side recompute)."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        ivf_assign, kmeans_centroids, seed_centroids)
    seeds = seed_centroids(unit_vecs, 4)
    members = ivf_assign(unit_vecs, seeds, "vec_id", "uv", dim=4).collect()
    got = {r["cell"]: r["cv"]
           for r in kmeans_centroids(unit_vecs, 4, iters=1, dim=4).collect()}
    by_cell: dict[int, list] = {}
    for r in sorted(members, key=lambda r: r["vec_id"]):
        by_cell.setdefault(r["cell"], []).append(r["uv"])
    for cell, vs in by_cell.items():
        for j in range(4):
            s = 0.0
            for v in vs:
                s += v[j]
            assert got[cell][j] == pytest.approx(s / len(vs), abs=1e-12)


def test_kmeans_excludes_zero_norm_vectors(spark):
    """A degenerate all-zero embedding (NULL unit components) must not
    poison the centroid means."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        kmeans_centroids, unit_vectors)
    raw = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    cents = kmeans_centroids(unit_vectors(raw), n_cells=2, iters=1).collect()
    assert cents and all(c is not None for r in cents for c in r["cv"])


# --- pagerank -------------------------------------------------------------

def test_pagerank_star_graph(spark):
    """On a symmetric star (hub 0 <-> spokes 1..4): ranks sum to 1
    (no dangling mass), the hub outranks every spoke, spokes are
    symmetric, and the result is partitioning-invariant."""
    from demo_apache_flink_streaming_mode_spark.operators.graph import pagerank
    edges = [(0, s) for s in range(1, 5)] + [(s, 0) for s in range(1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: r["pagerank"]
           for r in pagerank(df, iters=5).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    assert all(got[0] > got[s] for s in range(1, 5))
    assert len({got[s] for s in range(1, 5)}) == 1
    got2 = {r["vertex"]: r["pagerank"]
            for r in pagerank(df.repartition(7), iters=5).collect()}
    assert got == got2


# --- ordered_sum ----------------------------------------------------------

# doubles from 1e-15 to 1e15 in magnitude, both signs: summation order
# changes the rounded result for most groups of such values
_wide_double = st.builds(lambda m, e, neg: (-m if neg else m) * 10.0 ** e,
                         st.floats(1.0, 10.0), st.integers(-15, 15),
                         st.booleans())


@st.composite
def _shuffled_groups(draw):
    """(g, k, v) rows: up to 5 groups, order keys k unique and assigned
    in an order unrelated to the row order."""
    groups = draw(st.lists(st.lists(_wide_double, min_size=1, max_size=12),
                           min_size=1, max_size=5))
    vals = [(g, v) for g, vs in enumerate(groups) for v in vs]
    keys = draw(st.permutations(range(len(vals))))
    return draw(st.permutations(
        [(g, k, v) for (g, v), k in zip(vals, keys)]))


def _key_order_sum(rows):
    return functools.reduce(operator.add,
                            [v for _, v in sorted(rows)], 0.0)


@hypo.budget(10)
@given(rows=_shuffled_groups())
def test_ordered_sum_property_is_key_order_left_fold(spark, rows):
    """Grouped and global ``ordered_sum`` equal a Python left fold in
    key order, bit for bit, whatever the partitioning."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        ordered_sum)
    by_g: dict[int, list] = {}
    for g, k, v in rows:
        by_g.setdefault(g, []).append((k, v))
    want = {g: _key_order_sum(kv).hex() for g, kv in by_g.items()}
    want_all = _key_order_sum([(k, v) for _, k, v in rows]).hex()
    df = spark.createDataFrame(rows, "g int, k long, v double")
    for parts in (1, 7):
        d = df.repartition(parts)
        got = {r["g"]: r["s"].hex() for r in
               d.groupBy("g").agg(ordered_sum("k", "v").alias("s")).collect()}
        assert got == want, parts
        got_all = d.agg(ordered_sum("k", "v").alias("s")).collect()[0]["s"]
        assert got_all.hex() == want_all, parts


def test_ordered_sum_of_empty_frame_is_zero(spark):
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        ordered_sum)
    df = spark.createDataFrame([], "g int, k long, v double")
    assert df.agg(ordered_sum("k", "v").alias("s")).collect()[0]["s"] == 0.0
    assert df.groupBy("g").agg(ordered_sum("k", "v")).collect() == []


def test_triangle_count_known_graph(spark):
    """K4 has exactly 4 triangles; adding a pendant edge adds none;
    duplicate/symmetric input edges must not inflate the count."""
    from demo_apache_flink_streaming_mode_spark.operators.graph import (
        triangle_count)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # symmetric
    edges = k4 + [(3, 9), (9, 3), (0, 1)]  # pendant + duplicate
    df = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4


# --- time-series resample ------------------------------------------------

def test_resample_ffill_grid_and_carry(spark):
    """Grid spans [ceil(min/step), floor(max/step)]; every point carries
    the latest observation at or before it — never null."""
    from demo_apache_flink_streaming_mode_spark.operators.timeseries import (
        resample_ffill)
    ev = spark.createDataFrame(
        [(1, 150, 10.0), (1, 420, 20.0), (1, 990, 30.0)],
        "k long, ms long, v double")
    got = {r["grid_ms"]: (r["ms"], r["v"])
           for r in resample_ffill(ev, "k", "ms", 100).collect()}
    assert set(got) == {200, 300, 400, 500, 600, 700, 800, 900}
    assert got[200] == (150, 10.0)          # first boundary >= first obs
    assert got[400] == (150, 10.0)          # 420 not yet visible at 400
    assert got[500] == (420, 20.0)
    assert got[900] == (420, 20.0)          # 990 lands after the last point


def test_resample_ffill_key_without_boundary_emits_nothing(spark):
    """A key whose [min, max] span contains no step boundary produces no
    grid rows (and no nulls elsewhere)."""
    from demo_apache_flink_streaming_mode_spark.operators.timeseries import (
        resample_ffill)
    ev = spark.createDataFrame(
        [(1, 110, 1.0), (1, 190, 2.0),      # span (110,190): no multiple of 100
         (2, 90, 3.0), (2, 210, 4.0)],
        "k long, ms long, v double")
    rows = resample_ffill(ev, "k", "ms", 100).collect()
    assert {r["k"] for r in rows} == {2}
    assert sorted(r["grid_ms"] for r in rows) == [100, 200]


def test_resample_interp_lerp_and_tail_ffill(spark):
    """Between observations the value lerps; past the last observation
    it carries the last value; an exact hit returns the observation."""
    from demo_apache_flink_streaming_mode_spark.operators.timeseries import (
        resample_interp)
    ev = spark.createDataFrame(
        [(1, 100, 10.0), (1, 400, 40.0), (1, 650, 100.0)],
        "k long, ms long, v double")
    got = {r["grid_ms"]: r["interp_value"]
           for r in resample_interp(ev, "k", "ms", "v", 100).collect()}
    assert got[100] == 10.0                          # exact hit
    assert got[200] == pytest.approx(20.0)           # lerp 100->400
    assert got[300] == pytest.approx(30.0)
    assert got[400] == 40.0                          # exact hit
    assert got[500] == pytest.approx(40.0 + 60.0 * 100 / 250)
    assert got[600] == pytest.approx(40.0 + 60.0 * 200 / 250)
    assert 700 not in got                            # grid ends at 600


def test_resample_ffill_collision_tiebreak(spark):
    """Observations colliding on (key, ts) resolve to the greatest
    tiebreak value, deterministically."""
    from demo_apache_flink_streaming_mode_spark.operators.timeseries import (
        resample_ffill)
    ev = spark.createDataFrame(
        [(1, 100, 1.0, 7), (1, 100, 2.0, 9), (1, 100, 3.0, 8)],
        "k long, ms long, v double, eid long")
    rows = resample_ffill(ev, "k", "ms", 100, tiebreak=["eid"]).collect()
    assert [(r["grid_ms"], r["v"], r["eid"]) for r in rows] == [(100, 2.0, 9)]


# --- product quantization ------------------------------------------------

def test_pq_codebooks_partitioning_invariant(spark, unit_vecs):
    """Same bit-stability contract as the IVF codebook: per-subspace
    Lloyd's must not depend on input partitioning."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        pq_train_codebooks)
    a = pq_train_codebooks(unit_vecs.repartition(7), m_sub=2, sub_dim=2,
                           n_codes=3, iters=2)
    b = pq_train_codebooks(unit_vecs.repartition(3), m_sub=2, sub_dim=2,
                           n_codes=3, iters=2)
    ra = sorted((r["m"], r["code"], tuple(r["cv"])) for r in a.collect())
    rb = sorted((r["m"], r["code"], tuple(r["cv"])) for r in b.collect())
    assert ra == rb and len(ra) > 0


def test_pq_assign_picks_nearest_code(spark, unit_vecs):
    """Every assigned code is the true argmin ||sv - cv||^2 (driver-side
    recompute), ties to the smallest code."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        pq_assign, pq_subvectors, pq_train_codebooks)
    cb = pq_train_codebooks(unit_vecs, m_sub=2, sub_dim=2, n_codes=3, iters=1)
    sub = pq_subvectors(unit_vecs, m_sub=2, sub_dim=2)
    got = pq_assign(sub, cb).collect()
    cbs: dict[int, list] = {}
    for r in cb.collect():
        cbs.setdefault(r["m"], []).append((r["code"], r["cv"]))
    assert got
    for r in got:
        best = min(((sum((a - b) * (a - b) for a, b in zip(r["sv"], cv)), code)
                    for code, cv in cbs[r["m"]]))
        assert r["code"] == best[1], (r, best)


def test_pq_adc_distance_is_codebook_reconstruction(spark, unit_vecs):
    """adc_dist(query, neighbor) equals the sum over subspaces of
    ||q_sub - cv[neighbor's code]||^2 — the defining ADC identity —
    recomputed on the driver from the trained codebook + assignments."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        pq_assign, pq_subvectors, pq_train_codebooks, topk_pq, unit_vectors)
    raw = unit_vecs.select("vec_id", F.col("uv").alias("embedding"))
    queries = raw.filter(F.col("vec_id") % 10 == 0)
    out = topk_pq(queries, raw, k=5, m_sub=2, sub_dim=2, n_codes=3,
                  iters=1).collect()
    # recompute from the same re-normalized frame topk_pq builds inside
    u2 = unit_vectors(raw)
    cb = pq_train_codebooks(u2, m_sub=2, sub_dim=2, n_codes=3, iters=1)
    sub = pq_subvectors(u2, m_sub=2, sub_dim=2)
    codes = {(r["vec_id"], r["m"]): r["code"] for r in pq_assign(sub, cb).collect()}
    cvs = {(r["m"], r["code"]): r["cv"] for r in cb.collect()}
    qsubs = {(r["vec_id"], r["m"]): r["sv"] for r in sub.collect()}
    assert out
    for r in out:
        want = 0.0
        for m in range(2):
            cv = cvs[(m, codes[(r["neighbor_id"], m)])]
            sv = qsubs[(r["query_id"], m)]
            want += sum((a - b) * (a - b) for a, b in zip(sv, cv))
        assert r["adc_dist"] == pytest.approx(want, rel=1e-9), (r, want)


# --- CEP funnel ----------------------------------------------------------

def _ev(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, event_id long, "
                                     "event_type string, ms long")
    return df.select("user_id", "event_id", "event_type",
                     F.timestamp_millis(F.col("ms")).alias("ts"))


def test_funnel_basic_chain_and_order(spark):
    from demo_apache_flink_streaming_mode_spark.operators.cep import funnel_matches
    ev = _ev(spark, [
        (1, 1, "view", 0), (1, 2, "click", 10), (1, 3, "purchase", 20),
        # user 2: click BEFORE view -> never a qualified click -> no match
        (2, 4, "click", 0), (2, 5, "view", 10), (2, 6, "purchase", 20),
    ])
    out = funnel_matches(ev, ["view", "click", "purchase"], 100).collect()
    assert [(r["user_id"], r["event_id"], r["complete_ms"], r["prev_step_ms"])
            for r in out] == [(1, 3, 20, 10)]


def test_funnel_within_bound_per_gap(spark):
    from demo_apache_flink_streaming_mode_spark.operators.cep import funnel_matches
    ev = _ev(spark, [
        # first gap too wide: click can't chain to the view
        (1, 1, "view", 0), (1, 2, "click", 200), (1, 3, "purchase", 210),
        # second gap too wide: purchase can't chain to the click
        (2, 4, "view", 0), (2, 5, "click", 50), (2, 6, "purchase", 200),
        # both gaps exactly at the bound -> inclusive match
        (3, 7, "view", 0), (3, 8, "click", 100), (3, 9, "purchase", 200),
    ])
    out = funnel_matches(ev, ["view", "click", "purchase"], 100).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(3, 9)]


def test_funnel_relaxed_contiguity(spark):
    from demo_apache_flink_streaming_mode_spark.operators.cep import funnel_matches
    ev = _ev(spark, [
        # noise events between steps are ignored; two completions both
        # chain to the same (latest qualified) click
        (1, 1, "view", 0), (1, 2, "error", 5), (1, 3, "click", 10),
        (1, 4, "signup", 15), (1, 5, "purchase", 20), (1, 6, "purchase", 30),
    ])
    out = funnel_matches(ev, ["view", "click", "purchase"], 100).collect()
    assert sorted((r["event_id"], r["prev_step_ms"]) for r in out) \
        == [(5, 10), (6, 10)]


def test_funnel_same_timestamp_ties_resolve_by_event_id(spark):
    from demo_apache_flink_streaming_mode_spark.operators.cep import funnel_matches
    ev = _ev(spark, [
        # all three at ms=10: chain follows event_id order within the tie
        (1, 1, "view", 10), (1, 2, "click", 10), (1, 3, "purchase", 10),
        # reversed ids at one timestamp -> no chain
        (2, 6, "view", 10), (2, 5, "click", 10), (2, 4, "purchase", 10),
    ])
    out = funnel_matches(ev, ["view", "click", "purchase"], 100).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 3)]


def test_funnel_rejects_single_step(spark):
    from demo_apache_flink_streaming_mode_spark.operators.cep import funnel_matches
    with pytest.raises(ValueError):
        funnel_matches(spark.range(1), ["view"], 100)


# --- benchmark decontamination ------------------------------------------

def test_contamination_exact_copy_and_disjoint(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        benchmark_contamination)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"),          # benchmark
         (2, "a b c d e f"),          # exact copy -> contamination 1.0
         (3, "q r s t u v"),          # disjoint    -> 0.0
         (4, "a b c d e zz")],        # shares 1 of 2 5-grams -> 0.5
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in benchmark_contamination(
        docs, F.col("doc_id") == 1, shingle_n=5, threshold=0.5).collect()}
    assert set(out) == {2, 3, 4}      # bench doc excluded from the output
    assert out[2]["contamination"] == 1.0 and out[2]["is_contaminated"]
    assert out[3]["contamination"] == 0.0 and not out[3]["is_contaminated"]
    assert out[4]["n_grams"] == 2 and out[4]["n_overlap"] == 1
    assert out[4]["contamination"] == 0.5 and out[4]["is_contaminated"]


def test_contamination_counts_distinct_grams_once(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        benchmark_contamination)
    # candidate repeats one bench gram many times: distinct-gram counting
    # keeps n_grams == n_distinct and the repeat contributes once
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c a b c a b c")],
        "doc_id long, text string")
    out = benchmark_contamination(docs, F.col("doc_id") == 1,
                                  shingle_n=3, threshold=0.5).collect()
    # doc 2 grams: 'a b c','b c a','c a b' (distinct) -> one overlaps
    assert [(r["n_grams"], r["n_overlap"]) for r in out] == [(3, 1)]


def test_fuzzy_contamination_flags_paraphrase_and_picks_worst(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        fuzzy_contamination)
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),        # benchmark
         (2, "a b c d e f g h"),        # exact copy -> jaccard 1.0
         (3, "a b c d e f g zz"),       # light edit -> high jaccard
         (4, "q r s t u v w x"),        # disjoint   -> not flagged
         (5, "a b c d e f g h")],       # second benchmark (copy of 1)
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in fuzzy_contamination(
        docs, F.col("doc_id").isin(1, 5), 3, 10, shingle_n=3).collect()}
    assert set(out) == {2, 3}
    # exact copy ties bench 1 and 5 at jaccard 1.0 -> smaller id wins
    assert out[2]["matched_bench"] == 1 and out[2]["jaccard"] == 1.0
    # 6-gram docs share 5 of their 3-gram shingles: 5/(6+6-5)
    assert out[3]["n_inter"] == 5 and out[3]["n_union"] == 7
    assert out[3]["jaccard"] == 5 / 7


def test_fuzzy_contamination_rational_threshold_boundary(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        fuzzy_contamination)
    # candidate shares exactly 4 of 6 union grams (a pair verified to
    # band-collide under the fixed md5 minhashes, so the verify stage
    # actually sees it): threshold == 4/6 keeps it (>=), any rational
    # just above (41/60) drops it — integer cross-multiplication
    # decides the boundary, no float fuzz
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"),          # 5 distinct 3-grams
         (2, "a b c d e f zz")],        # 5 distinct; shares 4 -> union 6
        "doc_id long, text string")
    keep = fuzzy_contamination(docs, F.col("doc_id") == 1, 4, 6,
                               shingle_n=3).collect()
    assert [(r["doc_id"], r["n_inter"], r["n_union"]) for r in keep] \
        == [(2, 4, 6)]
    drop = fuzzy_contamination(docs, F.col("doc_id") == 1, 41, 60,
                               shingle_n=3).collect()
    assert drop == []


def test_fuzzy_contamination_banding_is_the_candidate_gate(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        fuzzy_contamination)
    # a 3/7-Jaccard pair whose fixed md5 minhashes do NOT band-collide:
    # the verify stage never sees it, so even a 0-threshold returns
    # nothing — pinning that fuzzy decontam is LSH-gated (recall is
    # banding's, by design), not a silent all-pairs scan
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e x y")],
        "doc_id long, text string")
    out = fuzzy_contamination(docs, F.col("doc_id") == 1, 0, 1,
                              shingle_n=3).collect()
    assert out == []


# --- tf-idf keywords -----------------------------------------------------

def test_tfidf_ranks_rare_terms_above_common(spark):
    from demo_apache_flink_streaming_mode_spark.operators.text import tfidf_top_terms
    docs = spark.createDataFrame(
        [(1, "apple banana banana"), (2, "apple cherry")],
        "doc_id long, text string")
    out = [(r["doc_id"], r["rank"], r["term"], r["tfidf"])
           for r in tfidf_top_terms(docs, top_per_doc=2).collect()]
    # N=2; df(apple)=2, df(banana)=df(cherry)=1
    # idf(apple) = (2-2+0.5)/(2+0.5) = 0.2; idf(rare) = (2-1+0.5)/(1+0.5) = 1.0
    assert sorted(out) == [
        (1, 1, "banana", 2.0 * (2.0 - 1.0 + 0.5) / (1.0 + 0.5)),
        (1, 2, "apple", 1.0 * (2.0 - 2.0 + 0.5) / (2.0 + 0.5)),
        (2, 1, "cherry", 1.0 * (2.0 - 1.0 + 0.5) / (1.0 + 0.5)),
        (2, 2, "apple", 1.0 * (2.0 - 2.0 + 0.5) / (2.0 + 0.5)),
    ]


def test_tfidf_equal_scores_tie_break_by_term(spark):
    from demo_apache_flink_streaming_mode_spark.operators.text import tfidf_top_terms
    docs = spark.createDataFrame([(1, "zebra alpha")], "doc_id long, text string")
    out = [(r["rank"], r["term"])
           for r in tfidf_top_terms(docs, top_per_doc=2).collect()]
    assert sorted(out) == [(1, "alpha"), (2, "zebra")]


def test_approx_quantiles_within_band_of_exact(spark, sf_dir):
    """events_value_quantiles_approx lands within the sketch's rank
    error of the exact per-group quantiles.

    approx_percentile guarantees rank error <= n/accuracy, so instead
    of comparing values directly (value error is unbounded for spread
    distributions) we check the RANK of each approx value: the number
    of group values <= approx answer must sit within accuracy-band of
    the target rank. This is the property the sketch actually promises.
    """
    from demo_apache_flink_streaming_mode_spark.plans.queries_scale import (
        APPROX_PCT_ACCURACY, events_value_quantiles_approx)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    approx = {r["event_type"]: (r["p50"], r["p95"], r["p99"])
              for r in events_value_quantiles_approx(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    rows = ev.collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(approx) == set(by_type) and len(approx) > 0
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        band = max(1, n // APPROX_PCT_ACCURACY + 1)
        import bisect
        for q, got in zip((0.5, 0.95, 0.99), approx[et]):
            target_rank = q * n
            rank = bisect.bisect_right(vals, got)
            assert abs(rank - target_rank) <= band + 1, (
                f"{et} p{int(q*100)}: approx {got} has rank {rank}, "
                f"target {target_rank:.1f}, band {band}")


def test_cut_lineage_both_modes(spark):
    """cut_lineage: localCheckpoint by default, reliable checkpoint()
    when spark.graft.reliableCheckpoint=true — identical results, and
    the reliable mode survives without a pre-set checkpoint dir."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        RELIABLE_CHECKPOINT_CONF, cut_lineage)

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    want = [(r["id"], r["v"]) for r in df.orderBy("id").collect()]
    try:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")
        local = cut_lineage(df)
        assert [(r["id"], r["v"]) for r in local.orderBy("id").collect()] == want

        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        reliable = cut_lineage(df)
        assert [(r["id"], r["v"])
                for r in reliable.orderBy("id").collect()] == want
        # reliable mode really used the checkpoint machinery: a dir was
        # provisioned and holds the materialized rdd files
        import glob
        jdir = spark.sparkContext._jsc.sc().getCheckpointDir()
        assert not jdir.isEmpty()
        ckpt_root = jdir.get().replace("file:", "")
        assert glob.glob(f"{ckpt_root}/**/part-*", recursive=True)
    finally:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")


def test_dedup_clusters_reliable_checkpoint_parity(spark, sf_dir):
    """The iterative CC operator returns identical clusters under the
    cluster-safe reliable-checkpoint mode."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        RELIABLE_CHECKPOINT_CONF)
    from demo_apache_flink_streaming_mode_spark.plans.queries_llm import (
        dedup_clusters)

    want = sorted(map(tuple, dedup_clusters(spark, sf_dir).collect()))
    try:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        got = sorted(map(tuple, dedup_clusters(spark, sf_dir).collect()))
    finally:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")
    assert got == want and len(got) > 0


# --- sliding count windows -------------------------------------------------

def test_sliding_count_window_flink_semantics(spark):
    """countWindow(size=3, slide=2) on one key with 7 rows: windows fire
    at records 2, 4, 6 (CountTrigger), each holding the last <=3 records
    (CountEvictor): [1,2], [2,3,4], [4,5,6]. Record 7 never fires."""
    from demo_apache_flink_streaming_mode_spark.operators.windows import (
        sliding_count_window_agg)
    rows = [(1, i, float(10 ** i)) for i in range(1, 8)]  # value encodes rank
    df = spark.createDataFrame(rows, "k int, seq int, value double")
    got = {r["window_id"]: (r["n"], r["min_value"], r["max_value"],
                            r["trigger_rn"])
           for r in sliding_count_window_agg(
               df, "k", ["seq"], "value", size=3, slide=2).collect()}
    assert got == {1: (2, 10.0, 100.0, 2),
                   2: (3, 100.0, 10000.0, 4),
                   3: (3, 10000.0, 1000000.0, 6)}


def test_sliding_count_window_slide_larger_than_size(spark):
    """slide > size = sampled tumbling windows with gaps: size=2,
    slide=3 fires at 3 and 6, each covering only records (rn-1, rn]."""
    from demo_apache_flink_streaming_mode_spark.operators.windows import (
        sliding_count_window_agg)
    rows = [(1, i, float(i)) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "k int, seq int, value double")
    got = {r["window_id"]: (r["n"], r["min_value"], r["max_value"])
           for r in sliding_count_window_agg(
               df, "k", ["seq"], "value", size=2, slide=3).collect()}
    assert got == {1: (2, 2.0, 3.0), 2: (2, 5.0, 6.0)}


def test_sliding_count_window_short_key_no_fire(spark):
    """A key with fewer rows than one slide never fires any window."""
    from demo_apache_flink_streaming_mode_spark.operators.windows import (
        sliding_count_window_agg)
    df = spark.createDataFrame([(1, 1, 1.0)], "k int, seq int, value double")
    assert sliding_count_window_agg(
        df, "k", ["seq"], "value", size=5, slide=2).count() == 0


def test_sliding_count_window_rejects_nonpositive(spark):
    from demo_apache_flink_streaming_mode_spark.operators.windows import (
        sliding_count_window_agg)
    import pytest as _pt
    df = spark.createDataFrame([(1, 1, 1.0)], "k int, seq int, value double")
    with _pt.raises(ValueError):
        sliding_count_window_agg(df, "k", ["seq"], "value", size=0, slide=2)


def test_pack_shards_offsets_are_exact_prefix_sums(spark):
    """pack_shards lays rows end-to-end: sorted by global_offset, each
    row starts exactly where the previous ended, offsets start at 0,
    and shard_id is offset DIV budget — regardless of how rows were
    spread across the prefix-sum order buckets."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        pack_shards)
    rows = [(i, (i * 7) % 13 + 1) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = sorted(pack_shards(df, "id", "w", budget=20, num_buckets=8)
                 .collect(), key=lambda r: r.global_offset)
    assert out[0].global_offset == 0
    for prev, cur in zip(out, out[1:]):
        assert cur.global_offset == prev.global_offset + prev.w
    assert all(r.shard_id == r.global_offset // 20 for r in out)
    assert len({r.id for r in out}) == 100


def test_pack_shards_input_partitioning_invariant(spark):
    """The layout is a pure function of (ids, weights, budget,
    num_buckets): re-arranging the INPUT partitioning (the thing that
    varies between a 32-core laptop and a 1000-executor cluster) must
    not move a single row's offset or shard."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        pack_shards)
    rows = [(i, (i * 3) % 7 + 1) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "id long, w long")
    a = {r.id: (r.global_offset, r.shard_id)
         for r in pack_shards(df, "id", "w", 15, num_buckets=8).collect()}
    b = {r.id: (r.global_offset, r.shard_id)
         for r in pack_shards(df.repartition(13), "id", "w", 15,
                              num_buckets=8).collect()}
    assert a == b and len(a) == 60


def test_pack_sequences_partitions_every_token_exactly_once(spark):
    """The sequence manifest is a PARTITION of the token stream: per
    doc the slices are contiguous from 0 and sum to n_tokens; per
    sequence the contributions sum to exactly ctx (the last sequence
    excepted); boundaries agree with the doc's global offset."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        pack_sequences, pack_shards)
    rows = [(i, (i * 7) % 29) for i in range(1, 81)]  # some zero-token
    df = spark.createDataFrame(rows, "id long, w long")
    ctx = 16
    out = pack_sequences(df, "id", "w", ctx, num_buckets=8).collect()
    offs = {r.id: r.global_offset
            for r in pack_shards(df, "id", "w", ctx, num_buckets=8)
            .collect()}
    total = sum(w for _, w in rows)
    by_doc: dict[int, list] = {}
    by_seq: dict[int, int] = {}
    for r in out:
        assert 1 <= r.n_in_seq <= ctx
        by_doc.setdefault(r.id, []).append(r)
        by_seq[r.seq_id] = by_seq.get(r.seq_id, 0) + r.n_in_seq
    weights = dict(rows)
    assert set(by_doc) == {i for i, w in rows if w > 0}  # zero-w emit none
    for i, slices in by_doc.items():
        slices.sort(key=lambda r: r.seq_id)
        # contiguous coverage of [0, w): starts chain, total == w
        assert slices[0].start_in_doc == 0
        for a, b in zip(slices, slices[1:]):
            assert b.start_in_doc == a.start_in_doc + a.n_in_seq
            assert b.seq_id == a.seq_id + 1
        assert sum(r.n_in_seq for r in slices) == weights[i]
        # the first slice starts at the doc's global offset's sequence
        assert slices[0].seq_id == offs[i] // ctx
    # every sequence is exactly full except the last
    last = max(by_seq)
    assert set(by_seq) == set(range(last + 1))  # no gaps
    assert all(v == ctx for s, v in by_seq.items() if s != last)
    assert by_seq[last] == total - last * ctx


def test_aqe_skew_join_split_fires(spark):
    """operators/scale.py's docstring claims AQE's runtime skew-join
    splitting is the first line of defense before salted_join — prove
    the claim executes with this session's confs rather than assuming
    it. A key holding ~2/3 of the left side is joined under lowered
    skew thresholds (the fixture stands in for the 100 TB partition
    sizes that trip the defaults); after execution the final adaptive
    plan must carry the skew=true join marker, and the join result
    must be exactly the unskewed-semantics row count (splitting
    re-routes rows, never duplicates or drops them)."""
    from pyspark.sql import functions as F
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                 "64KB",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
             "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2"}
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        base = spark.range(0, 20_000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v"))
        hot = spark.range(0, 40_000).select(
            F.lit(7).alias("k"), F.col("id").alias("v"))
        left = base.union(hot).withColumn(
            "pad", F.md5(F.col("v").cast("string")))
        right = spark.range(0, 500).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("r"))
        j = left.join(right, "k")
        rows = j.collect()  # executes THIS QueryExecution -> final plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "AQE skew-join split did not fire:\n" + plan)
        assert len(rows) == 60_000  # every row joins exactly once
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_pack_shards_budget_larger_than_corpus(spark):
    """A budget above the total weight puts everything in shard 0 —
    the degenerate small-corpus case a report pipeline still hits."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        pack_shards)
    df = spark.createDataFrame([(1, 5), (2, 7), (3, 2)], "id long, w long")
    rows = pack_shards(df, "id", "w", budget=1000, num_buckets=4).collect()
    assert {r.shard_id for r in rows} == {0}
    offs = sorted((r.global_offset, r.w) for r in rows)
    assert offs[0][0] == 0 and all(
        offs[i + 1][0] == offs[i][0] + offs[i][1] for i in range(len(offs) - 1))


def test_cms_heavy_hitters_k_exceeds_vocab(spark):
    """k larger than the vocabulary returns every term exactly once,
    ranks contiguous from 1 — the top-k never fabricates rows."""
    from demo_apache_flink_streaming_mode_spark.operators.sketches import (
        cms_heavy_hitters)
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c b")], "doc_id long, text string")
    rows = sorted(cms_heavy_hitters(docs, k=100).collect(),
                  key=lambda r: r.est_rank)
    assert [r.term for r in rows] != [] and len(rows) == 3
    assert [r.est_rank for r in rows] == [1, 2, 3]
    assert all(r.overcount >= 0 and r.cms_est >= r.true_cnt for r in rows)


def test_lsh_candidates_against_validates_banding(spark):
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        lsh_candidates_against)
    sigs = spark.createDataFrame([(1, [1, 2, 3, 4])],
                                 "doc_id long, sig array<long>")
    with pytest.raises(ValueError, match="does not cover"):
        lsh_candidates_against(sigs, sigs, bands=3, rows_per_band=2,
                               num_hashes=4)


def test_lsh_candidates_against_excludes_self_and_finds_dups(spark):
    """A new doc identical to a corpus doc is flagged with est 1.0;
    sharing an id with a corpus doc never yields a self-pair."""
    from demo_apache_flink_streaming_mode_spark.operators.dedup import (
        lsh_candidates_against, minhash_signature)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "an entirely different document about spark engines"),
         (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    sigs = minhash_signature(docs)
    new = sigs.filter(F.col("doc_id") == 3)
    corpus = sigs.filter(F.col("doc_id") < 3)
    rows = lsh_candidates_against(new, corpus, bands=4, rows_per_band=2,
                                  num_hashes=8).collect()
    got = {(r.doc_id, r.corpus_doc_id): r.est_jaccard for r in rows}
    assert got.get((3, 1)) == 1.0          # exact text twin flagged
    assert (3, 3) not in got and (3, 2) not in got


def test_dynamic_session_long_gap_spans_past_successors(spark):
    """The a13 oracle merges sessions with a RUNNING MAX of per-event
    interval ends; pin that this matches Spark's session_window on the
    constructed case where the rule differs from a plain lag: a
    long-gap event at t=0 (end 100) followed by a short-gap event at
    t=10 (end 20) must still absorb an event at t=50 — under lag
    semantics t=50 would wrongly start a new session (50 >= 20)."""
    from demo_apache_flink_streaming_mode_spark.operators.windows import (
        dynamic_session_stats)
    rows = [(1, 0, "long"), (1, 10_000, "short"), (1, 50_000, "short"),
            (1, 200_000, "short")]  # 200s: past 0+100s -> new session
    df = spark.createDataFrame(rows, "user_id long, ms long, kind string") \
        .select("user_id", "kind",
                F.timestamp_millis(F.col("ms")).alias("ts"))
    gap_ms = (F.when(F.col("kind") == "long", F.lit(100_000))
              .otherwise(F.lit(10_000)))
    got = sorted((r.session_start, r.n) for r in
                 dynamic_session_stats(df, "ts", "user_id", gap_ms).collect())
    assert got == [(0, 3), (200_000, 1)]


def test_dup_span_islands_merge_and_distinct_doc_threshold(spark):
    """Constructed cases for the repeated-span report: (a) ADJACENT dup
    spans merge into one island (no double counting at the seam), (b)
    OVERLAPPING dup spans merge (shared tokens counted once), (c) a
    span repeated only WITHIN one doc is not boilerplate (the
    threshold counts distinct docs), (d) clean docs still get a row
    with zeros."""
    from demo_apache_flink_streaming_mode_spark.operators.text import (
        dup_span_report)
    rows = [
        (1, "a b c d e f"),          # dup spans at 1 and 4: adjacent
        (2, "a b c x d e f"),        # dup spans at 1 and 5: two islands
        (3, "u v w x y z q"),        # clean
        (4, "p q r s"),              # dup spans at 1 and 2: overlapping
        (5, "p q r s"),
        (6, "m n o m n o m n o"),    # intra-doc repeat only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dup_span_report(docs, span_n=3, min_docs=2).collect()}
    assert len(got) == 6
    # d1: [1,4) + [4,7) merge -> 6 covered of 6
    assert (got[1].n_dup_spans, got[1].covered_tokens) == (2, 6)
    assert got[1].dup_ratio == 1.0
    # d2: [1,4) and [5,8) stay separate -> 6 covered of 7
    assert (got[2].n_dup_spans, got[2].covered_tokens) == (2, 6)
    assert abs(got[2].dup_ratio - 6 / 7) < 1e-15
    # d4/d5: [1,4) + [2,5) overlap -> 4 covered, not 6
    for d in (4, 5):
        assert (got[d].n_dup_spans, got[d].covered_tokens) == (2, 4)
    # d3 and d6: no cross-doc duplication
    for d in (3, 6):
        assert (got[d].n_dup_spans, got[d].covered_tokens) == (0, 0)
        assert got[d].dup_ratio == 0.0
    # span inventory is reported for every doc
    assert got[6].n_spans == 7 and got[3].n_spans == 5


def test_bpe_train_matches_reference_implementation(spark):
    """bpe_train against a direct Python reference (word-frequency
    dict, greedy non-overlapping left-to-right merge): every rank,
    pair, and weight must agree — including the overlap case ("aaa"
    + (a,a) -> [aa, a]) and deterministic tie-breaks."""
    from collections import Counter

    from demo_apache_flink_streaming_mode_spark.operators.text import bpe_train

    texts = ["the fast the fast lane", "faster than the fastest sloth",
             "sloth sloth fast", "then the lane", "aaa aaab baaa"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    got = [(r.rank, r.left_sym, r.right_sym, r.weight)
           for r in bpe_train(docs, merges=6).orderBy("rank").collect()]

    wc = Counter(w for t in texts for w in t.split())
    seqs = {w: list(w) for w in wc}
    want = []
    for rank in range(1, 7):
        pc = Counter()
        for w, c in wc.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        (a, b), wt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, a, b, wt))
        for w, s in seqs.items():
            ns = []
            for x in s:
                if ns and ns[-1] == a and x == b:
                    ns[-1] = a + b
                else:
                    ns.append(x)
            seqs[w] = ns
    assert got == want


def test_zorder_layout_gives_disjoint_ranges_and_bounded_envelopes(
        spark, tmp_path):
    """write_zordered's promise, checked on disk: every output file
    covers a DISJOINT z interval, and because z interleaves the
    dimensions, each file's min/max envelope is bounded on BOTH
    dimensions — the property that makes data skipping work for
    predicates on either one. A single-dim sort would leave the
    second dimension's per-file span at full range."""
    from demo_apache_flink_streaming_mode_spark.operators.scale import (
        write_zordered, zorder_key)
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table

    # full-range dims (event bucket, hour bucket) so the envelope
    # assertion has room; the judged query's user dim is narrow at
    # tiny SF but the interleave math is identical
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.pmod("event_id", F.lit(256)).cast("long").alias("d1"),
        F.pmod(F.expr("unix_millis(ts) div 3600000"), F.lit(256))
         .alias("d2"))
    path = str(tmp_path / "zsorted")
    write_zordered(ev, [F.col("d1"), F.col("d2")], path, n_files=8)

    back = (spark.read.parquet(path)
            .withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min("_z").alias("zlo"), F.max("_z").alias("zhi"),
                 F.min("d1").alias("a1"), F.max("d1").alias("b1"),
                 F.min("d2").alias("a2"), F.max("d2").alias("b2"))
            .collect())
    assert len(back) > 1
    spans = sorted((r.zlo, r.zhi) for r in back)
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "file z ranges overlap"
    # interleaving bounds BOTH dims: mean per-file span well under the
    # global span on each dimension
    for a, b in (("a1", "b1"), ("a2", "b2")):
        glob = (max(r[b] for r in back) - min(r[a] for r in back))
        mean_span = sum(r[b] - r[a] for r in back) / len(back)
        assert mean_span < 0.75 * glob, (a, mean_span, glob)
    # sanity: zorder_key on the corners orders as expected
    probe = spark.createDataFrame([(0, 0), (255, 255)], "d1 long, d2 long")
    zs = [r.z for r in probe.select(
        zorder_key([F.col("d1"), F.col("d2")]).alias("z")).collect()]
    assert zs == [0, 65535]


def test_span_overlap_against_coverage_semantics(spark):
    """Constructed increment-vs-corpus span probe (span_n=3): a full
    mirror covers 100%, a partial mirror covers exactly its copied
    run (interval union, not span double-counting), novel text covers
    zero, and overlap is directional (corpus spans only — other NEW
    docs' text never counts as pre-existing)."""
    from demo_apache_flink_streaming_mode_spark.operators.text import (
        span_overlap_against)
    corpus = spark.createDataFrame(
        [(100, "a b c d e f"), (101, "x y z w")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a b c d e f"),          # full mirror of 100
         (2, "q r a b c d s t"),      # copies run a..d (spans at 3,4)
         (3, "n o p q r s"),          # novel
         (4, "n o p q r s")],         # same as 3 — but 3 is NOT corpus
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           span_overlap_against(new, corpus, span_n=3).collect()}
    assert got[1].overlap_ratio == 1.0 and got[1].n_corpus_spans == 4
    # doc 2: spans "a b c"(3) and "b c d"(4) hit -> union [3,7) = 4 of 8
    assert (got[2].n_corpus_spans, got[2].covered_tokens) == (2, 4)
    assert got[2].overlap_ratio == 0.5
    for d in (3, 4):   # novel, and new-vs-new never counts
        assert (got[d].n_corpus_spans, got[d].covered_tokens) == (0, 0)


def test_boilerplate_strip_removes_exactly_the_islands(spark):
    """The removal twin of the span report: fully-duplicated docs
    strip to empty, partially-duplicated docs lose exactly the island
    tokens (seam tokens between adjacent islands never survive, the
    non-covered middle does), and clean docs pass through verbatim."""
    from demo_apache_flink_streaming_mode_spark.operators.text import (
        boilerplate_strip)
    rows = [(1, "a b c d e f"), (2, "a b c x d e f"),
            (3, "u v w x y z q"), (4, "p q r s"), (5, "p q r s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_removed, r.cleaned_text) for r in
           boilerplate_strip(docs, span_n=3).collect()}
    assert got[1] == (6, "")                      # adjacent islands merge
    assert got[2] == (6, "x")                     # only the gap survives
    assert got[3] == (0, "u v w x y z q")         # untouched
    assert got[4] == (4, "") and got[5] == (4, "")
