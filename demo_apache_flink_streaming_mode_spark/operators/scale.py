"""Skew-mitigation utilities for the 100 TB design point.

AQE's runtime skew-join splitting (``spark.sql.adaptive.skewJoin``, on
in session.py) is the first line of defense and needs no code. These
helpers cover the cases AQE can't fix:

- a *single* join key so hot that even a split partition's build side
  overflows (salted_join replicates the build side per salt bucket, so
  the hot key's probe rows spread over ``buckets`` tasks);
- deterministic plans where runtime re-optimization is disabled.

Results are bitwise-identical to the unsalted equivalents: salting only
re-routes rows; multiplicity and values are untouched.

The module also holds the engine's one ordered double fold
(``ordered_sum``) and the lineage cut of iterative operators.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, functions as F

RELIABLE_CHECKPOINT_CONF = "spark.graft.reliableCheckpoint"


def ordered_sum(order: str | Column, value: str | Column) -> Column:
    """Aggregate expression: the sum of ``value`` over the group, added
    left to right in ascending ``order`` starting from 0.0 (0.0 for an
    empty group).

    The engine's scalar double folds (trainer statistics, PageRank
    contributions, ADC distances, report sums) all use this one
    expression. A plain ``F.sum`` adds partial sums in whatever order
    the partitions arrive, so its last ulp depends on partitioning;
    this fold does not, and it equals the oracle's in-order SQL list
    reduction bit for bit. ``order`` should be unique within a group
    (ties sort by value, still deterministic). The cost is buffering
    each group's (order, value) pairs: O(group size) at a hot key.
    """
    v = F.col(value) if isinstance(value, str) else value
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(order, v.alias("v")))),
        F.lit(0.0), lambda acc, s: acc + s["v"])


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize an iterative-op intermediate and cut its lineage.

    Iterative operators (connected components, Lloyd's k-means)
    re-reference their round-N result; without a checkpoint the plan
    replays rounds 1..N-1 per reference. Two modes, chosen by the
    session conf ``spark.graft.reliableCheckpoint`` (default false):

    - false: ``localCheckpoint`` — blocks cached on executors. Fast
      (no FS round-trip) and right for local mode or static clusters,
      but the lineage is GONE: losing an executor (dynamic allocation,
      spot kill) makes the blocks unrecoverable mid-job.
    - true: reliable ``checkpoint()`` — writes to the SparkContext
      checkpoint dir (set ``sc.setCheckpointDir`` to durable shared
      storage on a real cluster; a local temp dir is auto-provisioned
      here if unset so the switch is testable). Survives executor
      loss; the cluster-safe choice for long jobs at 100 TB.
    """
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false").lower() != "true":
        return df.localCheckpoint()
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(tempfile.mkdtemp(prefix="graft_ckpt_"))
    return df.checkpoint()


def salted_join(left: DataFrame, right: DataFrame, on: str, buckets: int = 16,
                how: str = "inner") -> DataFrame:
    """Equi-join with the LEFT side's hot keys spread over salt buckets.

    Left rows get a deterministic per-row salt (xxhash64 over the whole
    row, mod ``buckets``); the right side is replicated once per salt
    value (an ``explode`` of a ``buckets``-element literal array — a
    narrow map, no shuffle). The join key becomes (on, salt), so one hot
    key's rows land in ``buckets`` distinct shuffle partitions instead
    of one straggler task. Cost: right side shuffles ``buckets``x its
    size — use for big-probe/small-build joins where the build side is
    too big to broadcast but replicating it is still cheap.

    Row multiplicity is exactly that of the plain join (each left row
    matches the single right replica carrying its salt). Supports
    inner/left only — under right/full the replicas would surface as
    spurious unmatched rows.

    The replicated side carries a ``shuffle_hash`` hint: post-explode
    size estimates are unreliable and Catalyst may otherwise pick a
    broadcast, which would defeat the point of salting.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    lsalt = left.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                         F.lit(buckets)).cast("int"))
    rsalt = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)])))
    return lsalt.join(rsalt.hint("shuffle_hash"), [on, "__salt"], how).drop("__salt")


def write_bucketed(df: DataFrame, name: str, key: str, buckets: int = 8,
                   sort: bool = True, mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed (optionally bucket-sorted) catalog
    table so repeated joins/aggregations on ``key`` are co-located.

    The 100 TB rationale: a fact table that joins on the same key in
    every pipeline run (orders x lineitem on orderkey, embeddings x
    assignments on vec_id) pays one bucketed write, after which every
    join between same-bucketed tables runs with NO shuffle exchange on
    either side — Spark matches bucket files pairwise. ``sort=True``
    additionally pre-sorts within buckets so sort-merge joins skip the
    per-task sort. This is Spark's answer to the reference's keyed
    partitioning contract (keyBy pins a key to an operator instance;
    bucketing pins it to a file): declare the layout once, let every
    downstream plan exploit it.

    tests/test_bucketing.py asserts the no-Exchange plan and value
    parity with the unbucketed join.

    The write repartitions on the key into exactly ``buckets`` tasks
    first: Spark's reader only trusts a bucket's sort order (and so
    skips the SMJ's per-task Sort) when each bucket is a SINGLE file,
    which requires each writer task to hold exactly one bucket's rows
    (repartition and bucketing share the same Murmur3 pmod placement).

    ``mode='append'`` is REJECTED: appending produces a second file in
    each bucket, and under the session's
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` the
    reader would still skip the per-task Sort based on the bucket spec
    alone — silently wrong sort-merge-join results over unsorted
    concatenated bucket input. Rebuild with overwrite instead (the
    one-file-per-bucket invariant is what the legacy conf's
    correctness rests on; ``assert_single_file_buckets`` re-checks it
    post-write).
    """
    if mode.lower() == "append":
        raise ValueError(
            "write_bucketed(mode='append') would break the one-file-per-"
            "bucket invariant that bucketedTableScan.outputOrdering "
            "relies on (unsorted multi-file buckets -> wrong SMJ "
            "results); rewrite the table with mode='overwrite'")
    w = (df.repartition(buckets, F.col(key))
         .write.format("parquet").mode(mode).bucketBy(buckets, key))
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(name)
    assert_single_file_buckets(df.sparkSession, name, buckets)


def pack_shards(df: DataFrame, id_col: str, weight_col: str, budget: int,
                num_buckets: int = 64, salt: str = "shard:") -> DataFrame:
    """Training-shard packing: lay rows end-to-end in a deterministic
    pseudo-random order (md5 of the id — the usual pre-training corpus
    shuffle) and cut every ``budget`` weight units; a row's shard is
    ``floor(offset_before / budget)`` — the concat-and-cut packing a
    tokenized-corpus writer performs (rows may straddle a cut, exactly
    like token packing with document concatenation).

    The scale problem is the GLOBAL running sum: a naive
    ``SUM() OVER (ORDER BY ...)`` is one partition holding the whole
    corpus. Two-phase distributed prefix sum instead:

    1. hash rows into ``num_buckets`` order buckets (md5-derived, so
       the oracle reproduces it);
    2. within-bucket running sum — a keyed window, each partition
       bounded at ~N/num_buckets rows;
    3. per-bucket totals (num_buckets tiny rows) get their own prefix
       sum and BROADCAST back as each bucket's starting offset.

    One narrow shuffle on the bucket id + one broadcast — the same
    plan at 100 TB with num_buckets scaled to the cluster. Emits
    (id, weight, global_offset, shard_id) with global order
    (bucket, hash, id) and shard_id = global_offset div budget.
    """
    from pyspark.sql import Window as W
    from demo_apache_flink_streaming_mode_spark.functions.scalars import (
        hex_to_long)
    h = hex_to_long(F.md5(F.concat(F.lit(salt),
                                   F.col(id_col).cast("string"))))
    rows = df.select(F.col(id_col), F.col(weight_col).cast("long"),
                     h.alias("_h"), (h % num_buckets).alias("_b"))
    wb = (W.partitionBy("_b").orderBy("_h", id_col)
          .rowsBetween(W.unboundedPreceding, 0))
    rows = rows.withColumn("_cum", F.sum(weight_col).over(wb))
    totals = rows.groupBy("_b").agg(F.sum(weight_col).alias("_t"))
    wt = (W.orderBy("_b")
          .rowsBetween(W.unboundedPreceding, -1))  # num_buckets rows only
    starts = totals.withColumn(
        "_start", F.coalesce(F.sum("_t").over(wt), F.lit(0))).drop("_t")
    # integer DIV, not floor(double /): offsets are exact longs and
    # stay exact at any corpus size (same rule as the ns->ms gotcha)
    return (rows.join(F.broadcast(starts), "_b")
            .withColumn("global_offset",
                        F.col("_start") + F.col("_cum") - F.col(weight_col))
            .withColumn("shard_id", F.expr(f"global_offset DIV {budget}"))
            .select(id_col, weight_col, "global_offset", "shard_id"))


def pack_sequences(df: DataFrame, id_col: str, weight_col: str, ctx: int,
                   num_buckets: int = 64,
                   salt: str = "shard:") -> DataFrame:
    """Concat-and-chunk SEQUENCE packing — the GPT-style pretraining
    layout: the corpus is laid end-to-end in the same deterministic
    md5-shuffled order as :func:`pack_shards` and sliced into
    fixed-``ctx``-token training sequences; documents straddle cuts
    (no padding). Emits one row per (sequence, document) overlap:
    (id, seq_id, start_in_doc, n_in_seq) — exactly which token slice
    of which document each training sequence reads, i.e. the manifest
    a tokenized-dataset writer materializes.

    Built ON the two-phase distributed prefix sum (never a global
    single-partition window): a row at global offset ``off`` with
    ``n`` tokens overlaps sequences ``off DIV ctx`` through
    ``(off+n-1) DIV ctx`` — a bounded explode (~n/ctx + 1 rows per
    doc, linear in total tokens). Zero-token rows occupy an empty
    range and emit nothing. All integer math (DIV, never floor of a
    double quotient), exact at any corpus size.
    """
    packed = pack_shards(df, id_col, weight_col, ctx, num_buckets, salt)
    off, n = F.col("global_offset"), F.col(weight_col)
    # backtick-quote the caller's weight column inside the SQL fragment
    # (it is interpolated, unlike every other column here) so
    # non-identifier names survive; ctx is a validated int
    first = F.expr(f"global_offset DIV {int(ctx)}")
    last = F.expr(f"(global_offset + `{weight_col}` - 1) DIV {int(ctx)}")
    seq = F.col("seq_id")
    return (packed.filter(n > 0)
            .select(id_col, weight_col, "global_offset",
                    F.explode(F.sequence(first, last)).alias("seq_id"))
            .select(id_col, "seq_id",
                    F.greatest(seq * ctx - off, F.lit(0)).cast("long")
                    .alias("start_in_doc"),
                    (F.least((seq + 1) * ctx, off + n)
                     - F.greatest(seq * ctx, off)).cast("long")
                    .alias("n_in_seq")))


def assert_single_file_buckets(spark, name: str, buckets: int) -> None:
    """Assert the bucketed table holds exactly one data file per bucket
    — the invariant that makes trusting the bucket spec's sort order
    (legacy ``bucketedTableScan.outputOrdering``) safe. Cheap: one
    catalog lookup + one directory listing, no data read.
    """
    import os
    loc = (spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
           .filter(F.col("col_name") == "Location")
           .collect()[0]["data_type"])
    path = loc.removeprefix("file:")
    files = [f for f in os.listdir(path)
             if f.startswith("part-") and not f.endswith(".crc")]
    assert len(files) <= buckets, (
        f"bucketed table {name}: {len(files)} data files for {buckets} "
        "buckets — multi-file buckets invalidate the trusted sort order")


ZORDER_BITS = 8


def zorder_key(cols: list, bits: int = ZORDER_BITS):
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    dimension column into one long — the multi-dimensional clustering
    key behind lakehouse OPTIMIZE ZORDER.  Rows close in Z are close
    in EVERY dimension, so range-partitioning + sorting by Z gives
    each output file a bounded min/max envelope on all dimensions at
    once and data-skipping works for predicates on any of them
    (a plain sort only helps its leading column).

    Pure unrolled bit expressions (shift/and/or), whole-stage-codegen
    friendly; dimensions must already be bucketized to [0, 2^bits)
    integers (integer math only, so the key is reproducible on any
    engine).
    """
    terms = []
    n = len(cols)
    for b in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, b * n + d))
    z = terms[0]
    for t in terms[1:]:
        z = z.bitwiseOR(t)
    return z


def write_zordered(df: DataFrame, cols: list, path: str,
                   bits: int = ZORDER_BITS, n_files: int = 8) -> None:
    """Materialize a Z-ordered layout: compute the Morton key, range-
    partition on it (one global sample pass, no total sort), sort
    within partitions, and write one file per range — every file gets
    a disjoint Z interval and therefore a bounded envelope on every
    dimension.  At 100 TB this is the layout job you run once so that
    later scans skip files on any dimension's predicate.
    """
    z = zorder_key(cols, bits).alias("_z")
    (df.withColumn("_z", z)
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .write.mode("overwrite").parquet(path))
