"""Distributed training of a linear quality model — the
DataComp/fastText-style "train a cheap model to approximate an
expensive scorer, then filter at scale" step of an LLM data pipeline,
expressed as pure DataFrame aggregations (no MLlib).

The teacher is the continuous ``operators.text.quality_score`` (a
KNOWN linear function of bounded features), thresholded at
``QF_THRESHOLD`` to act as a keep/drop filter. Two trainers:

* ``train_quality_probe`` — CLOSED FORM: one distributed pass
  accumulates the normal-equation sufficient statistics (the d*(d+1)/2
  Gram entries X'X and the d moment entries X's — the classic
  "ML on a cluster = one aggregation of sufficient statistics" shape),
  then solves the 4x4 system on the driver by Cramer's rule. Because
  the teacher IS linear in the features, the probe must RECOVER the
  planted weights (0.4, 0.4, 0.2 and a zero bias) — the recovery test
  pins that, and classifier agreement at the threshold is ~1.
* ``train_quality_gd`` — ITERATIVE: ``QF_GD_ITERS`` full-batch
  gradient-descent steps on the squared loss, each ONE aggregation
  of d gradient sums (the allreduce shape);
  emits the per-iteration MSE learning curve, which must strictly
  decrease.

Everything is oracle-reproducible to the bit:

* only +, -, * and one final / are used — no exp/log, whose libm
  implementations differ between the JVM and DuckDB;
* every gradient/Gram reduction is an in-doc_id-order left fold
  (``operators.scale.ordered_sum``), never a parallel ``F.sum`` whose
  partition order would move the last ulp;
* the Cramer determinant expansions are GENERATED ONCE as expression
  strings (``cramer_weight_exprs``) that the driver-side arithmetic
  interpreter (``eval_arith`` — an ast walk over names/+,-,*,/ only,
  bit-identical to Python ``eval`` by test) and the DuckDB oracle
  embed VERBATIM — +,-,* parse with identical precedence and left
  association in both languages, so the solve itself is bit-identical
  across engines.

The model (d=4 doubles) is the only thing that reaches the driver, and
it returns to the executors as literals — the bounded-model contract of
``similarity.kmeans_centroids``.

Reference scope: the Flink demo has no ML surface; this extends the
LLM-pipeline operator set (SURVEY.md "beyond the reference" tier).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from demo_apache_flink_streaming_mode_spark.operators import text
from demo_apache_flink_streaming_mode_spark.operators.scale import (
    ordered_sum)

QF_THRESHOLD = 0.525           # ~median quality_score at every SF
QF_GD_ITERS = 3
QF_GD_LR = 0.5
QF_FEATURES = ("bias", "len_norm", "diversity", "word_len_norm")
QF_D = len(QF_FEATURES)
# the teacher's planted weights over (x1..x4): quality_score ==
# 0.4*len_norm + 0.4*diversity + 0.2*word_len_norm, zero bias
QF_PLANTED = (0.0, 0.4, 0.4, 0.2)


def quality_filter_features(docs: DataFrame,
                            text_col: str = "text") -> DataFrame:
    """(doc_id, x1..x4, s): bounded features from the Gopher-gate
    signal set and the teacher score s — s is BY CONSTRUCTION the
    planted linear combination of x2..x4 (same value as
    ``text.quality_score`` up to the NULL convention: zero-token
    documents coalesce to all-zero features and s = 0 instead of
    NULL, so they train as ordinary rows)."""
    qr = text.quality_rules(docs, text_col)
    x2 = F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
    x3 = F.lit(1.0) - F.coalesce(F.col("dup_token_frac"), F.lit(1.0))
    x4 = F.least(F.coalesce(F.col("mean_word_len"), F.lit(0.0))
                 / F.lit(8.0), F.lit(1.0))
    return qr.select(
        "doc_id", F.lit(1.0).alias("x1"), x2.alias("x2"), x3.alias("x3"),
        x4.alias("x4"),
        (F.lit(0.4) * x2 + F.lit(0.4) * x3 + F.lit(0.2) * x4).alias("s"))


# --- Cramer's rule as engine-portable expression strings -------------------

def _det3(m) -> str:
    (a, b, c), (d, e, f), (g, h, i) = m
    return (f"({a}*({e}*{i} - {f}*{h}) - {b}*({d}*{i} - {f}*{g})"
            f" + {c}*({d}*{h} - {e}*{g}))")


def _det4(m) -> str:
    terms = []
    for j in range(4):
        sub = [[m[r][c] for c in range(4) if c != j] for r in (1, 2, 3)]
        sign = "-" if j % 2 else "+"
        terms.append(f"{sign} {m[0][j]}*{_det3(sub)}")
    return "(" + " ".join(terms).lstrip("+ ") + ")"


def _gram_name(i: int, j: int) -> str:
    i, j = min(i, j), max(i, j)
    return f"a{i}{j}"


GRAM_NAMES = tuple(_gram_name(i, j)
                   for i in range(QF_D) for j in range(i, QF_D))
MOMENT_NAMES = tuple(f"b{i}" for i in range(QF_D))


def cramer_det_expr() -> str:
    """det(A) over the Gram names — the shared denominator."""
    return _det4([[_gram_name(i, j) for j in range(QF_D)]
                  for i in range(QF_D)])


def cramer_weight_exprs() -> list[str]:
    """w_j = det(A_j)/det(A) over the names a00..a33 (symmetric Gram)
    and b0..b3 (moments), each a single +,-,* expression string valid
    and bit-identical in BOTH Python and SQL."""
    A = [[_gram_name(i, j) for j in range(QF_D)] for i in range(QF_D)]
    det_a = _det4(A)
    out = []
    for j in range(QF_D):
        Aj = [[(MOMENT_NAMES[i] if c == j else A[i][c])
               for c in range(QF_D)] for i in range(QF_D)]
        out.append(f"({_det4(Aj)} / {det_a})")
    return out


def eval_arith(expr: str, names: dict[str, float]) -> float:
    """Evaluate one generated Cramer expression string over the
    sufficient statistics — an ``ast``-walking arithmetic interpreter
    restricted to names, numeric literals, +, -, * and / (including
    unary minus). Python's own parser supplies exactly the precedence
    and left-associativity the DuckDB engine uses on the same string,
    so every float op happens in the same IEEE order as the oracle's —
    this is ``eval`` semantics for the arithmetic subset, without an
    ``eval`` (the strings are self-generated, but an interpreter over
    four node types is auditable where a sandboxed eval is merely
    argued safe)."""
    import ast

    def walk(node: ast.AST) -> float:
        if isinstance(node, ast.Expression):
            return walk(node.body)
        if isinstance(node, ast.Name):
            return names[node.id]
        if isinstance(node, ast.Constant) and isinstance(node.value,
                                                         (int, float)):
            return float(node.value)
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            return -walk(node.operand)
        if isinstance(node, ast.BinOp):
            left, right = walk(node.left), walk(node.right)
            if isinstance(node.op, ast.Add):
                return left + right
            if isinstance(node.op, ast.Sub):
                return left - right
            if isinstance(node.op, ast.Mult):
                return left * right
            if isinstance(node.op, ast.Div):
                return left / right
        raise ValueError(f"unsupported node in arithmetic expression: "
                         f"{ast.dump(node)}")

    return walk(ast.parse(expr, mode="eval"))


def _fold_sum(df: DataFrame, terms: dict[str, Column],
              count_alias: str | None = None) -> dict[str, float]:
    """Sum each term column over the frame as an in-doc_id-order left
    fold (0.0 for an empty frame). ``count_alias`` additionally rides a
    row count in the SAME aggregation (and the returned dict), saving
    callers a separate count job."""
    aggs = [ordered_sum("doc_id", col).alias(name)
            for name, col in terms.items()]
    if count_alias is not None:
        aggs.append(F.count(F.lit(1)).alias(count_alias))
    row = df.agg(*aggs).collect()[0]
    out = {name: float(row[name]) for name in terms}
    if count_alias is not None:
        out[count_alias] = float(row[count_alias])
    return out


def fit_quality_weights(feats: DataFrame) -> tuple[list[float], int]:
    """THE closed-form training pass, single-sourced: one distributed
    sufficient-statistics aggregation (the d*(d+1)/2 Gram entries and
    d moments, in-order folds) + the driver-side Cramer solve over
    the shared expression strings. Returns ``(weights, n_docs)`` —
    ``([], 0)`` for an empty corpus. Every ml_filter surface that
    needs trained weights (probe report, serve filter, calibration,
    the composed pipeline) calls THIS once over a prebuilt —
    persist-it-first-if-reused — feature frame, so a composed query
    runs exactly one training aggregation (pinned by
    tests/test_ml.py).

    r12: n rides the SAME aggregation as the sufficient statistics
    (one Spark job instead of a count job + a stats job — guide §5;
    the folds over an empty frame yield 0.0s that are never read, so
    the n == 0 contract is unchanged)."""
    terms: dict[str, Column] = {}
    for i in range(QF_D):
        for j in range(i, QF_D):
            terms[_gram_name(i, j)] = (F.col(f"x{i + 1}")
                                       * F.col(f"x{j + 1}"))
    for i in range(QF_D):
        terms[f"b{i}"] = F.col(f"x{i + 1}") * F.col("s")
    stats = _fold_sum(feats, terms, count_alias="_n")
    n = int(stats.pop("_n"))
    if n == 0:
        return [], 0
    w = [eval_arith(expr, stats) for expr in cramer_weight_exprs()]
    return [float(v) for v in w], int(n)


def train_quality_probe(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Closed-form least squares in ONE distributed pass + a driver-
    side Cramer solve; reports each learned weight next to its planted
    teacher weight and the keep/drop agreement at the threshold."""
    feats = quality_filter_features(docs, text_col).persist()
    spark = docs.sparkSession
    schema = ("feature string, weight double, planted double, "
              "train_acc double, n_docs bigint")
    w, n = fit_quality_weights(feats)
    if n == 0:
        feats.unpersist()
        return spark.createDataFrame([], schema)
    dot = F.lit(w[0]) * F.col("x1")
    for j in range(1, QF_D):
        dot = dot + F.lit(w[j]) * F.col(f"x{j + 1}")
    acc = feats.agg(
        (F.sum(F.when((dot >= F.lit(QF_THRESHOLD))
                      == (F.col("s") >= F.lit(QF_THRESHOLD)),
                      F.lit(1)).otherwise(F.lit(0))).cast("double")
         / F.count(F.lit(1))).alias("acc")).collect()[0]["acc"]
    feats.unpersist()
    rows = [(QF_FEATURES[j], float(w[j]), QF_PLANTED[j], float(acc),
             int(n)) for j in range(QF_D)]
    return spark.createDataFrame(rows, schema)


def train_quality_gd(docs: DataFrame, iters: int = QF_GD_ITERS,
                     lr: float = QF_GD_LR,
                     text_col: str = "text") -> DataFrame:
    """Full-batch gradient descent on the squared loss — the iterative
    allreduce shape (one d-sum aggregation per step). Emits the
    learning curve: (iter, mse) with iter 0 the untrained model; the
    curve must strictly decrease (pinned in tests)."""
    feats = quality_filter_features(docs, text_col).persist()
    n = feats.count()
    spark = docs.sparkSession
    schema = "iter int, mse double, n_docs bigint"
    if n == 0:
        feats.unpersist()
        return spark.createDataFrame([], schema)
    w = [0.0] * QF_D

    def dot_col() -> Column:
        d = F.lit(w[0]) * F.col("x1")
        for j in range(1, QF_D):
            d = d + F.lit(w[j]) * F.col(f"x{j + 1}")
        return d

    def mse() -> float:
        r = dot_col() - F.col("s")
        return _fold_sum(feats, {"sq": r * r})["sq"] / float(n)

    curve = [(0, mse(), int(n))]
    for t in range(1, iters + 1):
        r = dot_col() - F.col("s")
        grads = _fold_sum(
            feats,
            {f"g{j}": (F.lit(2.0) * r) * F.col(f"x{j + 1}")
             for j in range(QF_D)})
        w = [w[j] - lr * (grads[f"g{j}"] / float(n)) for j in range(QF_D)]
        curve.append((t, mse(), int(n)))
    feats.unpersist()
    return spark.createDataFrame(curve, schema)


# lr swept over {0.5, 1, 2, 3} at all three SFs: 1.0 is the largest
# rate whose loss curve decreases STRICTLY through iter 5 everywhere
# (2.0+ oscillates the decision accuracy, 3.0 diverges the loss)
QF_LOGIT_ITERS = 5
QF_LOGIT_LR = 1.0


def _alg_sigmoid(z: Column) -> Column:
    """The ALGEBRAIC sigmoid 0.5*(1 + z/(1+|z|)) — the rational
    softsign link. Chosen over 1/(1+exp(-z)) deliberately: exp's libm
    implementations differ in the last ulp between the JVM and DuckDB,
    while abs/+/*// are IEEE exactly-rounded everywhere, so the whole
    training trajectory stays bit-identical across engines. Same
    sigmoidal shape (monotone, p(0)=0.5, saturating to 0/1)."""
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


def train_quality_logit(docs: DataFrame, iters: int = QF_LOGIT_ITERS,
                        lr: float = QF_LOGIT_LR,
                        text_col: str = "text") -> DataFrame:
    """CLASSIFICATION twin of ``train_quality_gd``: full-batch gradient
    descent on the squared error of a sigmoidal CLASSIFIER against the
    teacher's binary keep/drop label y = (s >= QF_THRESHOLD) — the
    fastText-style "train a cheap classifier on a teacher's decisions"
    step, where the regression twins learn the teacher's SCORE.

    Model: p = sigmoid(<w, x>) with the algebraic (rational) sigmoid;
    loss L = mean((p - y)^2); gradient dL/dw_j =
    mean(2*(p - y) * p'(z) * x_j) with p'(z) = 0.5/(1+|z|)^2 — all
    +,-,*,abs and exactly-rounded division, so every step is
    bit-reproducible on any engine (no exp/log anywhere, see
    ``_alg_sigmoid``). One d-sum aggregation per step (the allreduce
    shape), model returns as literals.

    Emits the learning curve (iter, sq_loss, train_acc, n_docs): iter
    0 is the untrained model (w = 0, p = 0.5 everywhere); sq_loss must
    strictly decrease and the decision rule is sign(z) — train_acc is
    the integer-exact agreement of (z >= 0) with y.
    """
    feats = quality_filter_features(docs, text_col).persist()
    n = feats.count()
    spark = docs.sparkSession
    schema = "iter int, sq_loss double, train_acc double, n_docs bigint"
    if n == 0:
        feats.unpersist()
        return spark.createDataFrame([], schema)
    th = F.lit(QF_THRESHOLD)
    y = F.when(F.col("s") >= th, F.lit(1.0)).otherwise(F.lit(0.0))
    w = [0.0] * QF_D

    def z_col() -> Column:
        z = F.lit(w[0]) * F.col("x1")
        for j in range(1, QF_D):
            z = z + F.lit(w[j]) * F.col(f"x{j + 1}")
        return z

    def point() -> tuple[float, float]:
        z = z_col()
        p = _alg_sigmoid(z)
        loss = _fold_sum(feats, {"sq": (p - y) * (p - y)})["sq"] / float(n)
        acc = feats.agg(
            (F.sum(F.when((z >= F.lit(0.0)) == (F.col("s") >= th),
                          F.lit(1)).otherwise(F.lit(0))).cast("double")
             / F.count(F.lit(1))).alias("acc")).collect()[0]["acc"]
        return loss, float(acc)

    curve = [(0, *point(), int(n))]
    for t in range(1, iters + 1):
        z = z_col()
        p = _alg_sigmoid(z)
        dp = F.lit(0.5) / ((F.lit(1.0) + F.abs(z))
                           * (F.lit(1.0) + F.abs(z)))
        grads = _fold_sum(
            feats,
            {f"g{j}": (F.lit(2.0) * (p - y)) * dp * F.col(f"x{j + 1}")
             for j in range(QF_D)})
        w = [w[j] - lr * (grads[f"g{j}"] / float(n)) for j in range(QF_D)]
        curve.append((t, *point(), int(n)))
    feats.unpersist()
    return spark.createDataFrame(curve, schema)


def score_with_weights(feats: DataFrame, w: list[float]) -> Column:
    """<w, x> over the feature columns as the canonical left-to-right
    chain (shared by training, serving and the oracle SQL)."""
    dot = F.lit(w[0]) * F.col("x1")
    for j in range(1, len(w)):
        dot = dot + F.lit(w[j]) * F.col(f"x{j + 1}")
    return dot


def apply_quality_filter(docs: DataFrame, weights: list[float],
                         text_col: str = "text") -> DataFrame:
    """SERVE shape: score documents with a TRAINED weight vector — the
    frozen model is 4 doubles shipped as literals (the cheapest
    possible broadcast) — and emit the keep decision at
    ``QF_THRESHOLD``. A shuffle-free projection that fuses into the
    scan: the actual 100 TB filtering pass. The streaming twin applies
    the same literals to micro-batches via ``foreachBatch``
    (stream-static parity test in tests/test_streaming.py)."""
    feats = quality_filter_features(docs, text_col)
    dot = score_with_weights(feats, weights)
    return feats.select(
        "doc_id", dot.alias("pred_score"),
        (dot >= F.lit(QF_THRESHOLD)).alias("keep"))


def train_and_filter(docs: DataFrame, text_col: str = "text",
                     weights: list[float] | None = None) -> DataFrame:
    """End-to-end: closed-form training pass, then the serve-shape
    filtering pass with the learned weights — train-then-filter as one
    judged query. Pass ``weights=`` (the ``index=`` convention of the
    ANN family) to reuse an already-fitted model and skip the training
    aggregation entirely."""
    if weights is None:
        # no persist (r12): the fused fit is one aggregation action,
        # and the serve pass below re-derives features from docs
        weights, n = fit_quality_weights(
            quality_filter_features(docs, text_col))
        if n == 0:
            return docs.sparkSession.createDataFrame(
                [], "doc_id bigint, pred_score double, keep boolean")
    return apply_quality_filter(docs, weights, text_col)


QF_CAL_BUCKETS = 10


def calibration_report(docs: DataFrame, text_col: str = "text",
                       weights: list[float] | None = None) -> DataFrame:
    """Reliability diagram for the trained quality filter — the step a
    production pipeline runs before trusting a cheap learned scorer to
    gate data at scale (the fastText-filter calibration check): bucket
    every document by predicted score into ``QF_CAL_BUCKETS`` equal
    bins, and per bin report the document count, the mean predicted
    score, the mean teacher score, the keep counts on both sides of
    the threshold, and the calibration gap |mean_pred - mean_teacher|.

    Engine-portable like the trainers: the bin id is one floor of a
    shared double (bit-identical across engines), per-bin double sums
    are in-doc_id-order left folds (``operators.scale.ordered_sum``),
    keep counts are integers. Scale shape: one projection pass + one
    bounded groupBy (<= QF_CAL_BUCKETS groups) — the whole report is a
    single aggregation after the training pass. Pass ``weights=`` to reuse an already-fitted model
    and skip the training aggregation."""
    feats = quality_filter_features(docs, text_col)
    spark = docs.sparkSession
    schema = ("bucket int, n_docs bigint, mean_pred double, "
              "mean_teacher double, n_keep_pred bigint, "
              "n_keep_teacher bigint, cal_gap double")
    if weights is None:
        # no persist (r12): the fused fit is one aggregation action and
        # was unpersisted before the calibration aggregate anyway
        weights, n = fit_quality_weights(feats)
        if n == 0:
            return spark.createDataFrame([], schema)
    return _calibration_agg(_bucketize(feats, weights))


def _bucketize(feats: DataFrame, w: list[float]) -> DataFrame:
    """(doc_id, pred, s, bucket): the scored frame every calibration
    surface shares — one shared floor for the bin id."""
    pred = score_with_weights(feats, w)
    return feats.select(
        "doc_id", pred.alias("pred"), F.col("s"),
        F.least(F.greatest(F.floor(pred * F.lit(float(QF_CAL_BUCKETS))),
                           F.lit(0)),
                F.lit(QF_CAL_BUCKETS - 1)).cast("int").alias("bucket"))


def _calibration_agg(b: DataFrame) -> DataFrame:
    """The <= QF_CAL_BUCKETS-group reliability aggregate over a
    ``_bucketize`` frame (in-order double folds, integer keeps)."""
    th = F.lit(QF_THRESHOLD)
    agg = (b.groupBy("bucket")
           .agg(F.count("*").alias("n_docs"),
                ordered_sum("doc_id", "pred").alias("sum_pred"),
                ordered_sum("doc_id", "s").alias("sum_s"),
                F.sum((F.col("pred") >= th).cast("long"))
                .alias("n_keep_pred"),
                F.sum((F.col("s") >= th).cast("long"))
                .alias("n_keep_teacher")))
    mean_pred = F.col("sum_pred") / F.col("n_docs")
    mean_teacher = F.col("sum_s") / F.col("n_docs")
    return agg.select("bucket", "n_docs", mean_pred.alias("mean_pred"),
                      mean_teacher.alias("mean_teacher"),
                      "n_keep_pred", "n_keep_teacher",
                      F.abs(mean_pred - mean_teacher).alias("cal_gap"))


def train_apply_calibrate(docs: DataFrame,
                          text_col: str = "text") -> DataFrame:
    """The COMPOSED ml_filter pipeline — train once, serve every
    document, annotate each decision with its calibration bucket's
    reliability — with exactly ONE training aggregation in the whole
    run (``fit_quality_weights`` is called once; pinned by
    tests/test_ml.py). Standalone, ``ml_quality_apply`` and
    ``ml_quality_calibration`` each pay their own training pass; a
    production pipeline runs THIS shape instead.

    Output, one row per document: (doc_id, pred_score, keep, bucket,
    bucket_n_docs, bucket_cal_gap) — the serve decision plus how well
    calibrated the model is in that document's score region (the
    trust-the-filter signal a curation pipeline gates on).

    Scale shape: the training pass is one sufficient-statistics
    aggregation; scoring is a shuffle-free projection with the d=4
    model as literals; calibration is one bounded (<= QF_CAL_BUCKETS
    groups) aggregate whose result BROADCASTS back onto the scored
    frame — no corpus-sized shuffle anywhere."""
    feats = quality_filter_features(docs, text_col).persist()
    spark = docs.sparkSession
    schema = ("doc_id bigint, pred_score double, keep boolean, "
              "bucket int, bucket_n_docs bigint, bucket_cal_gap double")
    w, n = fit_quality_weights(feats)
    # the cache exists to make the TRAINING pass single-scan; release
    # it once fit is done (non-blocking, like every sibling trainer
    # here) and let the lazy serve/calibration plan recompute the
    # projection — otherwise repeated pipeline runs accumulate cached
    # partitions until LRU eviction (r10 advice)
    feats.unpersist(blocking=False)
    if n == 0:
        return spark.createDataFrame([], schema)
    b = _bucketize(feats, w)
    cal = _calibration_agg(b).select(
        "bucket", F.col("n_docs").alias("bucket_n_docs"),
        F.col("cal_gap").alias("bucket_cal_gap"))
    return (b.join(F.broadcast(cal), "bucket")
            .select("doc_id", F.col("pred").alias("pred_score"),
                    (F.col("pred") >= F.lit(QF_THRESHOLD)).alias("keep"),
                    "bucket", "bucket_n_docs", "bucket_cal_gap"))


def save_quality_model(spark, weights: list[float], name: str) -> None:
    """Persist the trained filter (the d=4 model artifact) through the
    same catalog persistence the frozen indexes use
    (``similarity.save_index``) — one tiny unbucketed table
    ``{name}__weights`` of (j, feature, weight)."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        save_index)
    frame = spark.createDataFrame(
        [(j, QF_FEATURES[j], float(weights[j])) for j in range(QF_D)],
        "j int, feature string, weight double")
    save_index("ml_model", (frame,), name)


def load_quality_model(spark, name: str) -> list[float]:
    """Reload the persisted model as the weight list the serving pass
    (``apply_quality_filter``) takes — proven bit-identical through
    the parquet round trip by tests/test_index_persist.py."""
    from demo_apache_flink_streaming_mode_spark.operators.similarity import (
        load_index)
    (frame,) = load_index(spark, "ml_model", name)
    rows = {r["j"]: r["weight"] for r in frame.collect()}
    return [rows[j] for j in range(QF_D)]
