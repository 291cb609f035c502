"""Model-based curation: hashed text featurization, nearest-neighbor
retrieval over text, centroid (Rocchio) classification, trained linear
(logistic-regression) quality classification, and scorer evaluation
(ROC-AUC) — the classifier stage of a 100 TB training-data pipeline
(FineWeb-Edu / DCLM-style model-based filtering, public methods).

The reference has no scalar/ML surface at all (values are opaque
ByteBuffers — NoTTLColumnSerializer.java:30,38,44); this module is pure
Spark-first north-star surface (SURVEY.md §2.2).

Determinism-by-construction (the BM25/PMI/DSIR convention): every path is
exact INTEGER arithmetic end-to-end — quantized tf-idf weights, integer
dot products, integer gradient sums — with floats appearing only as
final correctly-rounded int64->double conversions, ``sqrt`` (IEEE-754
requires correct rounding), one multiply and one divide. No
transcendental ops anywhere, so the DuckDB oracles hash-match
bit-for-bit. Logistic regression uses the RATIONAL fast sigmoid
``s(m) = 1/2 + m / (2*(1+|m|))`` instead of ``1/(1+exp(-m))`` — exact in
integer arithmetic, same sign/monotonicity/asymptotes (a declared
surrogate link, like DSIR's arithmetic-mean likelihood ratio).

Integer-range discipline (int64-safe by constants, NOT by luck): every
sum in the hash-checked paths is bounded under 2**63 at the declared
quantization scales, and every int->double conversion stays a SINGLE
int64 conversion (both engines round those correctly; 128-bit HUGEINT
->double is NOT trusted). At 10**10-document corpora the tf-idf weight
and the gradient sums must be promoted to decimal(38,0)/HUGEINT
accumulators with a rescaled quantum — flagged per function.

Scale shape: featurization is explode + one map-side-combined
groupBy(doc, bucket) — text never shuffles, the 8-byte bucket ints do.
All model state (df dictionary <= dim rows, class sums <= classes*dim,
weights <= dim+1) broadcasts or inlines as literal expressions; no join
in this module ever shuffles its corpus side on anything but the doc id.
Training iterations follow doremi_weights' bounded-driver-loop pattern:
one single-exchange gradient job per round, the <= dim+1 weight state
driver-held in exact integer arithmetic (see _fit_weights).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from cassandra_ttl_remover_spark.operators.curate import (
    _dsir_bucket_duck,
    _dsir_bucket_spark,
)
from cassandra_ttl_remover_spark.plans import checkpoint_partitioned, fan_out

#: tf-idf weight quantum (2**14). w = ((tf*Q div dl) * (N+1)) div (df+1)
#: keeps w <= Q*(N+1)/2 (df >= 1 whenever the bucket exists), so dot
#: products and norms stay int64 for corpora up to ~10**7 docs; beyond
#: that rescale the idf numerator (w grows linearly with N).
TFIDF_Q = 1 << 14

#: Rocchio class-sum shift: class sums are re-quantized ``s div 2**14``
#: before squaring so the class norm stays under 2**53 (exact in double).
ROCCHIO_SHIFT = 14

#: logistic-regression fixed-point quanta: weights are ``W/2**16``,
#: features ``x = (tf*2**16) div dl``, residuals quantized to 2**-16.
LR_S = 1 << 16
LR_Q = 1 << 16
LR_R = 1 << 16
#: integer learning rate (eta = 4 full-batch steps are stable for
#: fractional features and |w| <= eta*t).
LR_ETA = 4


# ---------------------------------------------------------------------------
# hashed tf / tf-idf featurization
# ---------------------------------------------------------------------------

def hashed_tf(docs: DataFrame, dim: int = 1024, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """``(id, dl, bucket, tf)`` — one row per (document, hashed term
    bucket): tokens md5-hashed into ``dim`` buckets (the DSIR bucket
    construction, 3 hex nibbles -> pmod), tf = occurrences, dl = doc
    token length riding along the grouping key (constant per id — no
    second aggregate). Empty docs drop out (no tokens -> no rows).

    Scale: one explode (token volume) + one map-side-combined
    groupBy(id, bucket); the shuffled rows are four ints — the text
    column never leaves the scan projection."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    return (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.expr("size(_ws)").cast("long").alias("dl"),
            F.explode(
                F.expr(f"transform(_ws, s -> {_dsir_bucket_spark('s', dim)})")
            ).alias("bucket"),
        )
        .groupBy(id_col, "dl", "bucket")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def hashed_tfidf(docs: DataFrame, dim: int = 1024, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """``(id, bucket, tf, dl, df, w)`` — quantized tf-idf over hashed
    buckets, all-integer (the module-docstring convention):

        w = ((tf * Q) div dl) * (N + 1) div (df + 1),   Q = 2**14

    (two-step integer quantization of ``tf/dl * (N+1)/(df+1)``, the
    rational idf surrogate — monotone in ln-idf, no transcendentals).
    ``df`` counts documents per bucket; N counts featurized documents.
    Rows with w = 0 (token rarer than the quantum) are kept — df/tf stay
    exact evidence even when the weight underflows.

    Scale: the df dictionary is <= ``dim`` rows and broadcasts; N rides
    the same dictionary as a 1-row broadcast aggregate — the corpus-side
    frame is touched exactly once after featurization. 10**10-doc
    corpora: promote ``x*(N+1)`` to decimal(38,0) (int64 holds to
    ~10**7 docs at Q=2**14)."""
    # three consumers (df dictionary, N, weight join) — featurize once
    feats = hashed_tf(docs, dim, text_col, id_col).localCheckpoint(
        eager=False)
    df_dim = feats.groupBy("bucket").agg(
        F.count("*").cast("long").alias("df"))
    n1 = F.broadcast(
        feats.select(id_col).distinct().agg(
            (F.count("*") + 1).cast("long").alias("n1")))
    return (
        feats.join(F.broadcast(df_dim), "bucket")
        .crossJoin(n1)
        .select(
            F.col(id_col), "bucket", "tf", "dl", "df",
            F.expr(f"((tf * {TFIDF_Q}) div dl) * n1 div (df + 1)")
            .cast("long").alias("w"),
        )
    )


def _feats_duck_cte(dim: int, table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text",
                    suffix: str = "") -> str:
    """DuckDB CTE chain ending in ``feats(id, dl, bucket, tf)`` — the
    oracle twin of :func:`hashed_tf`. ``suffix`` renames every CTE
    (base_e, feats_e, ...) so two featurizations — e.g. a train and a
    holdout frame — can coexist in one WITH chain. The tf-idf and
    logreg oracles both COMPOSE this (no string surgery on generated
    SQL)."""
    ws = f"[w for w in string_split({text_col}, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("s", dim)
    s = suffix
    return f"""
base{s} AS (SELECT {id_col}, {ws} AS ws FROM {table}),
tok{s} AS (
  SELECT {id_col}, len(ws)::BIGINT AS dl,
         unnest(list_transform(ws, s -> {bucket})) AS bucket
  FROM base{s}
),
feats{s} AS (
  SELECT {id_col}, dl, bucket, count(*)::BIGINT AS tf
  FROM tok{s} GROUP BY {id_col}, dl, bucket
)"""


def _tfidf_duck_cte(dim: int, table: str = "documents",
                    id_col: str = "doc_id", text_col: str = "text",
                    suffix: str = "") -> str:
    """DuckDB CTE chain ending in ``tfidf(id, bucket, tf, dl, df, w)`` —
    the SAME derivation as :func:`hashed_tfidf` (shared constants; the
    bucket expression comes from the one DSIR helper pair), composed on
    :func:`_feats_duck_cte`."""
    s = suffix
    return f"""{_feats_duck_cte(dim, table, id_col, text_col, suffix)},
dfreq{s} AS (
  SELECT bucket, count(*)::BIGINT AS df FROM feats{s} GROUP BY bucket
),
nn{s} AS (
  SELECT (count(DISTINCT {id_col}) + 1)::BIGINT AS n1 FROM feats{s}
),
tfidf{s} AS (
  SELECT {id_col}, f.bucket, tf, dl, df,
         (((tf * {TFIDF_Q}) // dl) * n1 // (df + 1))::BIGINT AS w
  FROM feats{s} f JOIN dfreq{s} USING (bucket) CROSS JOIN nn{s}
)"""


def hashed_tfidf_oracle_sql(dim: int = 1024, max_id: int = 32,
                            table: str = "documents",
                            id_col: str = "doc_id") -> str:
    """Oracle for the declared bounded projection of :func:`hashed_tfidf`
    (full-corpus df/N statistics, output sliced to ``id < max_id`` so the
    graded result stays small)."""
    return f"""
WITH {_tfidf_duck_cte(dim, table, id_col)}
SELECT {id_col}, bucket, tf, dl, df, w FROM tfidf
WHERE {id_col} < {max_id}
ORDER BY {id_col}, bucket
"""


# ---------------------------------------------------------------------------
# text kNN over hashed tf-idf vectors
# ---------------------------------------------------------------------------

def text_knn(docs: DataFrame, query_id, k: int = 20, dim: int = 1024,
             text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` cosine neighbors of document ``query_id`` over the
    hashed tf-idf vectors — text-native similarity search with NO
    embedding model: the featurizer IS the encoder, so the whole ANN
    stack (exact here; similarity.py's IVF/LSH/PQ for the indexed path)
    applies to raw-text corpora. Returns ``(id, dot, cosine)`` ordered
    cosine desc with the id as total tie-break (the query doc itself
    ranks first at cosine ~1 — sanity row, filter upstream if unwanted).

    Exactness: dot and the squared norms are exact int64 sums; cosine is
    ``double(dot) / (sqrt(n2_d) * sqrt(n2_q))`` — three correctly-rounded
    ops on exactly-converted int64s, bit-stable across engines.

    Scale: the query vector (<= dim rows) is collected once off the
    checkpointed weight frame — the bounded-collect convention — and
    re-enters as ONE Arrow-batch broadcast (plans.local_frame) with its
    squared norm folded to a literal; dot and the corpus norms then come
    out of a SINGLE left-join + groupBy(id) pass, and TakeOrdered picks
    the top-k (per-partition heads, no global sort). One corpus
    featurize + one doc-id-keyed shuffle total. r12's four lazy
    consumers (query filter, query norm, dot join, norms agg) raced to
    materialize the weight checkpoint concurrently and re-aggregated the
    corpus twice; the collect forces the featurize to run exactly once
    and the fused aggregate halves the corpus passes (ABAB r13:
    1.372 -> 1.205 s warm at sf0.1). ``dot > 0`` reproduces the old
    inner bucket join's row set exactly — weights are strictly positive,
    so a shared bucket implies a positive dot."""
    from cassandra_ttl_remover_spark.plans import local_frame

    w = hashed_tfidf(docs, dim, text_col, id_col).select(
        id_col, "bucket", "w").filter(F.col("w") > 0)
    w = w.localCheckpoint(eager=False)
    q_rows = w.filter(F.col(id_col) == F.lit(query_id)) \
        .select("bucket", "w").collect()
    qn2 = sum(int(r["w"]) ** 2 for r in q_rows)
    if qn2 >= 1 << 63:
        raise ValueError(
            f"text_knn: query_id {query_id!r} has squared norm {qn2}, "
            "past int64; the corpus is beyond the int64 envelope of "
            "hashed_tfidf")
    types = {f.name: f.dataType.simpleString() for f in w.schema.fields}
    qv = F.broadcast(local_frame(
        docs.sparkSession,
        [(r["bucket"], r["w"]) for r in q_rows],
        f"bucket {types['bucket']}, _qw {types['w']}",
    ))
    return (
        w.join(qv, "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.expr("w * coalesce(_qw, 0L)")).cast("long").alias("dot"),
            F.sum(F.expr("w * w")).cast("long").alias("_n2"),
        )
        .filter(F.col("dot") > 0)
        .withColumn("_qn2", F.lit(qn2).cast("long"))
        .select(
            F.col(id_col), "dot",
            F.expr("cast(dot as double) / (sqrt(cast(_n2 as double)) *"
                   " sqrt(cast(_qn2 as double)))").alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def text_knn_oracle_sql(query_id, k: int = 20, dim: int = 1024,
                        table: str = "documents",
                        id_col: str = "doc_id") -> str:
    return f"""
WITH {_tfidf_duck_cte(dim, table, id_col)},
wv AS (SELECT {id_col}, bucket, w FROM tfidf WHERE w > 0),
qv AS (SELECT bucket, w AS qw FROM wv WHERE {id_col} = {query_id}),
dots AS (
  SELECT {id_col}, sum(w * qw)::BIGINT AS dot
  FROM wv JOIN qv USING (bucket) GROUP BY {id_col}
),
norms AS (SELECT {id_col}, sum(w * w)::BIGINT AS n2 FROM wv GROUP BY {id_col})
SELECT {id_col}, dot,
       dot::DOUBLE / (sqrt(n2::DOUBLE)
         * sqrt((SELECT sum(qw * qw)::BIGINT FROM qv)::DOUBLE)) AS cosine
FROM dots JOIN norms USING ({id_col})
ORDER BY cosine DESC, {id_col} ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Rocchio (nearest-class-centroid) classifier
# ---------------------------------------------------------------------------

def rocchio_confusion(docs: DataFrame, label_col: str = "lang",
                      dim: int = 1024, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Centroid text classification, resubstitution-evaluated: per-class
    sum vectors over hashed tf-idf (a class centroid scaled by its doc
    count — the 1/n_c factor cancels inside cosine, so the SUM vector is
    the centroid for ranking purposes), every featurized doc assigned to
    ``argmax_c dot(w_d, S_c) / sqrt(||S_c||^2)`` (the per-doc norm is
    constant across classes and drops out), and the confusion matrix
    ``(label, pred, n)`` returned. Ties break on the class name asc —
    fully deterministic.

    Exactness: class sums are int64; before squaring they are quantized
    ``s div 2**ROCCHIO_SHIFT`` so the class norm stays < 2**53 (exact in
    double; the same declared-quantization convention as the tf-idf
    weights). Scores compare a correctly-rounded int64 quotient pair.

    Scale: the class-model frame is <= classes*dim rows — broadcasts
    into the scoring join; scoring is one bucket join + one
    groupBy(id, label) partial agg + one argmax window over <= classes
    rows per doc. Text shuffles never; the corpus featurization is the
    only big move."""
    from pyspark.sql import Window

    # two consumers (class-sum model, per-doc scoring) — featurize once
    w = hashed_tfidf(docs, dim, text_col, id_col).select(
        id_col, "bucket", "w").filter(F.col("w") > 0).localCheckpoint(
        eager=False)
    labels = docs.select(id_col, F.col(label_col).alias("label"))
    wl = w.join(labels, id_col)
    model = (
        wl.groupBy("label", "bucket")
        .agg(F.sum("w").cast("long").alias("s"))
        .withColumn("sq", F.expr(f"s div {1 << ROCCHIO_SHIFT}"))
    ).localCheckpoint(eager=False)  # feeds norms and the scoring join
    nc2 = model.groupBy("label").agg(
        F.sum(F.expr("sq * sq")).cast("long").alias("nc2"))
    cls = F.broadcast(
        model.join(nc2, "label")
        .select("label", "bucket", "sq", "nc2")
        .filter(F.col("sq") != 0)
    )
    scored = (
        w.join(cls, "bucket")
        .groupBy(id_col, "label", "nc2")
        .agg(F.sum(F.expr("w * sq")).cast("long").alias("dot"))
        .select(
            F.col(id_col), F.col("label").alias("pred"),
            F.expr("cast(dot as double) / sqrt(cast(nc2 as double))")
            .alias("score"),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("pred").asc())
    pred = (
        scored.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .select(id_col, "pred")
    )
    return (
        pred.join(labels, id_col)
        .groupBy("label", "pred")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy("label", "pred")
    )


def rocchio_confusion_oracle_sql(label_col: str = "lang", dim: int = 1024,
                                 table: str = "documents",
                                 id_col: str = "doc_id") -> str:
    sh = 1 << ROCCHIO_SHIFT
    return f"""
WITH {_tfidf_duck_cte(dim, table, id_col)},
wv AS (SELECT {id_col}, bucket, w FROM tfidf WHERE w > 0),
labels AS (SELECT {id_col}, {label_col} AS label FROM {table}),
model AS (
  SELECT label, bucket, (sum(w)::BIGINT // {sh})::BIGINT AS sq
  FROM wv JOIN labels USING ({id_col}) GROUP BY label, bucket
),
nc2 AS (SELECT label, sum(sq * sq)::BIGINT AS nc2 FROM model GROUP BY label),
cls AS (
  SELECT label, bucket, sq, nc2 FROM model JOIN nc2 USING (label)
  WHERE sq <> 0
),
scored AS (
  SELECT {id_col}, label AS pred, nc2, sum(w * sq)::BIGINT AS dot
  FROM wv JOIN cls USING (bucket) GROUP BY {id_col}, label, nc2
),
ranked AS (
  SELECT {id_col}, pred,
         row_number() OVER (
           PARTITION BY {id_col}
           ORDER BY dot::DOUBLE / sqrt(nc2::DOUBLE) DESC, pred ASC
         ) AS rn
  FROM scored
)
SELECT label, pred, count(*)::BIGINT AS n
FROM ranked JOIN labels USING ({id_col})
WHERE rn = 1
GROUP BY label, pred ORDER BY label, pred
"""


# ---------------------------------------------------------------------------
# logistic regression (quantized full-batch GD, rational fast sigmoid)
# ---------------------------------------------------------------------------

def _lr_feats(docs: DataFrame, dim: int, text_col: str,
              id_col: str,
              labels: dict[str, str] | None = None) -> DataFrame:
    """``(id[, *labels], bucket, xq)`` — quantized frequencies
    ``(tf*Q) div dl`` plus the bias pseudo-bucket -1 with xq = Q for
    every featurized doc.

    ``labels`` maps extra output names to per-doc SQL expressions over
    ``docs`` (the training label ``y``, an evaluation ``slice``, ...).
    They ride the featurize as additional GROUP KEYS — constant per doc,
    so grouping is unchanged — which lets the GD loop and the scoring
    aggregation read them straight off the one checkpointed frame
    instead of joining a separately-materialized label frame back on
    the doc id every pass (r12: removed the _labels_checkpoint scan +
    per-iteration co-partitioned join from every training consumer).

    The bias row is injected INTO the featurize explode (a literal -1
    prepended to each non-empty doc's bucket array) instead of being a
    second ``distinct``-then-union branch over a checkpointed tf frame:
    one explode + one map-side-combined aggregation produce the whole
    frame, saving the tf materialization, the distinct exchange and the
    union (r12: row-identical output at sf0.1, logreg_auc end-to-end
    3.62 -> 3.33 s best-of-4). Empty docs still drop out — the array
    stays empty when the doc has no tokens, matching hashed_tf's
    no-tokens-no-rows convention, so N and the oracle are unchanged.

    The result is hash-partitioned on the doc id BEFORE the caller's
    checkpoint: every GD iteration aggregates margins by id and joins
    residuals back on id, so pre-partitioning once lets both reuse the
    partitioning instead of re-exchanging the (narrow, integer) feature
    frame twice per iteration — one exchange paid at featurize time,
    2 x iters exchanges saved (plan-pinned in test_classify)."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    buckets = (f"if(size(_ws) = 0, array(), concat(array(-1L), "
               f"transform(_ws, s -> {_dsir_bucket_spark('s', dim)})))")
    lab_names = list(labels or {})
    lab_cols = [F.expr(e).alias(n) for n, e in (labels or {}).items()]
    return (
        fan_out(docs.select(id_col, *lab_cols, text_col), id_col)
        .select(F.col(id_col), *lab_names, F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col), *lab_names,
            F.expr("size(_ws)").cast("long").alias("dl"),
            F.explode(F.expr(buckets)).alias("bucket"),
        )
        .groupBy(id_col, *lab_names, "dl", "bucket")
        .agg(F.count("*").cast("long").alias("tf"))
        .select(
            F.col(id_col), *lab_names, "bucket",
            F.expr(f"if(bucket = -1, {LR_Q}L, (tf * {LR_Q}) div dl)")
            .cast("long").alias("xq"),
        )
        .repartition(F.col(id_col))
    )


def _labels_checkpoint(labels: DataFrame, id_col: str) -> DataFrame:
    """Materialize a label projection ONCE, pre-partitioned on the doc
    id. The frame is narrow (id + domain/digest) but its LINEAGE is a
    full corpus scan, and downstream branches would otherwise re-run
    that scan per consuming job. The id partitioning mirrors
    _lr_feats': the scoring join-back is exchange-free on both sides.
    (The training label itself no longer lives here — it rides the
    feature frame as a group key; this survives for projections too
    wide to multiply through the featurize exchange, e.g.
    model_curate's md5 digest.)"""
    return checkpoint_partitioned(labels.repartition(F.col(id_col)))


def _tdiv(a: int, b: int) -> int:
    """Spark's ``div`` (and DuckDB's ``//`` on these oracles): int64
    division truncating toward zero — Python's ``//`` floors instead,
    so negatives need the explicit form."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _w_lookup_expr(w: dict[int, int], dim: int) -> str:
    """O(1) literal weight lookup for a feats row: the <= dim+1 weight
    map inlined as a literal ARRAY indexed by ``bucket + 2`` (bucket is
    -1..dim-1 by _dsir_bucket_spark construction), so the margin
    projection is pure codegen'd arithmetic — no broadcast join, no
    interpreted map scan. An empty map (iteration 0) is the constant
    0 margin."""
    if not w:
        return "0L"
    vals = ", ".join(f"{w.get(b, 0)}L" for b in range(-1, dim))
    return f"element_at(array({vals}), cast(bucket + 2 as int))"


def _grad_round_frame(feats: DataFrame, w: dict[int, int], dim: int,
                      id_col: str) -> DataFrame:
    """ONE GD round as ONE single-exchange frame over the checkpointed
    ``(id, y, bucket, xq)`` feature rows: the per-doc margin is a window
    sum over the id partition (co-partitioned with the checkpoint's
    hash(id) layout — no exchange, one in-task sort), the residual is
    computed inline per row (constant within a doc), and the gradient
    is the map-side-combined groupBy(bucket) — the only exchange, and
    it carries <= dim+1 keys. ``c`` on the bias bucket -1 doubles as
    the featurized-doc count N (exactly one bias row per doc)."""
    from pyspark.sql import Window

    D = LR_S * LR_Q
    win = Window.partitionBy(id_col)
    return (
        feats
        .withColumn("_m", F.sum(
            F.expr(f"({_w_lookup_expr(w, dim)}) * xq")).over(win)
            .cast("long"))
        .select(
            "bucket",
            F.expr(
                f"((((2 * y - 1) * ({D} + abs(_m)) - _m) * {LR_R})"
                f" div (2 * ({D} + abs(_m)))) * xq"
            ).cast("long").alias("_gx"),
        )
        .groupBy("bucket")
        .agg(F.sum("_gx").cast("long").alias("g"),
             F.count("*").cast("long").alias("c"))
    )


def _fit_weights(feats: DataFrame, iters: int, dim: int,
                 id_col: str) -> dict[int, int]:
    """Full-batch GD over a checkpointed ``(id, y, bucket, xq)`` frame
    with the weight STATE on the driver — the bounded-collect
    convention (doremi_weights' driver loop, score_documents' weight
    map): each iteration is exactly ONE Spark job (see
    :func:`_grad_round_frame`) whose <= dim+1 gradient rows are
    collected, and the integer weight update runs in exact Python
    arithmetic (`_tdiv` = Spark's truncating ``div``), bit-identical
    to the unrolled SQL oracle.

    This replaces the frame-resident loop (broadcast weights + margins
    agg + residual join + gradient join + weight-update join +
    checkpoint per iteration — ~8 AQE stage-jobs each): same integers,
    iters jobs total, no broadcast builds, no weight-frame lineage."""
    w: dict[int, int] = {}
    n: int | None = None
    for _ in range(max(iters, 0)):
        rows = _grad_round_frame(feats, w, dim, id_col).collect()
        if not rows:
            break  # empty corpus: no buckets, weights stay empty
        if n is None:
            n = sum(int(r.c) for r in rows if r.bucket == -1)
            w = {int(r.bucket): 0 for r in rows}
        if n == 0:
            break
        g = {int(r.bucket): int(r.g) for r in rows}
        den = n * LR_R * LR_Q
        w = {b: wb + _tdiv(LR_ETA * LR_S * g.get(b, 0), den)
             for b, wb in w.items()}
    if n is None and iters <= 0:
        # iters = 0 still reports the zero-initialized dictionary
        w = {int(r.bucket): 0
             for r in feats.select("bucket").distinct().collect()}
    return w


def _weights_frame(spark, w: dict[int, int]) -> DataFrame:
    """``(bucket, weight)`` frame off a driver weight map — <= dim+1
    rows, ordered by bucket (logreg_train's declared output shape)."""
    rows = [(int(b), int(v)) for b, v in sorted(w.items())]
    from cassandra_ttl_remover_spark.plans import local_frame
    return local_frame(spark, rows, "bucket long, weight long")


def logreg_train(docs: DataFrame, label_expr: str = "lang = 'en'",
                 dim: int = 64, iters: int = 2, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Binary logistic-regression training ON Spark: full-batch gradient
    descent over hashed token-frequency features, entirely in quantized
    integer arithmetic (module docstring), so the learned weights
    hash-match the unrolled SQL oracle bit-for-bit. Returns
    ``(bucket, weight)`` — bucket -1 is the bias — ordered by bucket;
    real-valued weights are ``weight / 2**16``.

    Per iteration t (all integers; S=Q=R=2**16, D=S*Q, eta=LR_ETA):

        M_d   = sum_b W_b * xq_db                  (margin m = M/D)
        p_d   = (D + |M| + M) / (2*(D + |M|))      (fast sigmoid, exact)
        rq_d  = ((2y - 1)*(D + |M|) - M) * R div (2*(D + |M|))
                                                   (residual y - p, quantized)
        G_b   = sum_d rq_d * xq_db                 (gradient, exact int)
        W_b  += (eta * S * G_b) div (N * R * Q)

    (int64-safe at these quanta to ~10**5 docs x dim 64 x few iters;
    promote the G accumulation to decimal(38,0) for larger corpora —
    truncating div on negatives agrees between engines: both round
    toward zero.)

    Scale: each iteration is ONE Spark job — a single-exchange gradient
    pass over the feature frame (featurized once, label riding it, both
    checkpointed) with the <= dim+1 weights inlined as a literal array
    and updated on the driver in exact integer arithmetic (the
    doremi_weights / score_documents bounded-collect convention; see
    :func:`_fit_weights`). Driver-sequenced fixed small ``iters`` is
    the declared regime — this is a FILTER model, not a foundation
    model."""
    feats = checkpoint_partitioned(_lr_feats(
        docs, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)"}))
    return _weights_frame(
        docs.sparkSession, _fit_weights(feats, iters, dim, id_col))


def _lr_duck_ctes(label_expr: str, dim: int, iters: int,
                  table: str, id_col: str) -> tuple[list[str], str]:
    """Shared CTE chain for the logreg oracles: returns (ctes, final
    weights CTE name). Same constants, same integer ops, unrolled like
    graph.pagerank_oracle_sql."""
    D = LR_S * LR_Q
    ctes = [_feats_duck_cte(dim, table, id_col).strip()]
    ctes.append(f"""x AS (
  SELECT {id_col}, bucket, ((tf * {LR_Q}) // dl)::BIGINT AS xq FROM feats
  UNION ALL
  SELECT DISTINCT {id_col}, -1 AS bucket, {LR_Q}::BIGINT AS xq FROM feats
)""")
    ctes.append(f"""labels AS (
  SELECT {id_col}, (CASE WHEN {label_expr} THEN 1 ELSE 0 END)::BIGINT AS y
  FROM {table}
)""")
    ctes.append("dict AS (SELECT DISTINCT bucket FROM x)")
    ctes.append(
        f"nn AS (SELECT count(DISTINCT {id_col})::BIGINT AS n FROM x)")
    ctes.append("w0 AS (SELECT bucket, 0::BIGINT AS w FROM dict)")
    for i in range(iters):
        prev, cur = f"w{i}", f"w{i + 1}"
        ctes.append(f"""m{i} AS (
  SELECT {id_col}, sum(w * xq)::BIGINT AS m
  FROM x JOIN {prev} USING (bucket) GROUP BY {id_col}
)""")
        ctes.append(f"""r{i} AS (
  SELECT {id_col},
         ((((2 * y - 1) * ({D} + abs(m)) - m) * {LR_R})
          // (2 * ({D} + abs(m))))::BIGINT AS rq
  FROM m{i} JOIN labels USING ({id_col})
)""")
        ctes.append(f"""g{i} AS (
  SELECT bucket, sum(rq * xq)::BIGINT AS g
  FROM x JOIN r{i} USING ({id_col}) GROUP BY bucket
)""")
        ctes.append(f"""{cur} AS (
  SELECT d.bucket,
         (w + ({LR_ETA} * {LR_S} * COALESCE(g, 0))
          // (n * {LR_R} * {LR_Q}))::BIGINT AS w
  FROM {prev} d LEFT JOIN g{i} USING (bucket) CROSS JOIN nn
)""")
    return ctes, f"w{iters}"


def logreg_train_oracle_sql(label_expr: str = "lang = 'en'", dim: int = 64,
                            iters: int = 2, table: str = "documents",
                            id_col: str = "doc_id") -> str:
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT bucket, w AS weight FROM {final} ORDER BY bucket")


# ---------------------------------------------------------------------------
# scorer evaluation: exact ROC-AUC via histogram ranks
# ---------------------------------------------------------------------------

def logreg_auc(docs: DataFrame, label_expr: str = "lang = 'en'",
               dim: int = 64, iters: int = 2, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Train :func:`logreg_train` and evaluate it where it was trained
    (resubstitution, declared): exact ROC-AUC of the integer margin
    against the label, via the tie-aware Mann-Whitney statistic computed
    on the SCORE HISTOGRAM — no global row ranking:

        group by margin -> (cnt, pos);  cum = ranks before the group;
        U2 = sum_groups pos*(2*cum + cnt + 1) - P*(P+1);
        AUC = U2 / (2*P*N)

    (every term integer; AUC is one final int64 division). Returns one
    row ``(n_pos, n_neg, u2, auc)``.

    Scale: scoring reuses the training feature frame (one corpus pass
    total); the histogram groupBy collapses the corpus to <= distinct
    margins, and the prefix sum over that histogram runs through the
    two-level distributed scan (see :func:`_auc_from_margins`) — no
    single-partition stage exists in the plan even when int64 margins
    are near-unique and the histogram is corpus-sized."""
    feats = checkpoint_partitioned(_lr_feats(
        docs, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)"}))
    w = _fit_weights(feats, iters, dim, id_col)
    return _auc_from_margins(
        _margins(feats, w, dim, id_col, extras=("y",)))


def _margins(feats: DataFrame, w: dict[int, int], dim: int,
             id_col: str, extras: tuple[str, ...] = ()) -> DataFrame:
    """Per-doc integer margin — the ONE place the trained-weights
    scoring aggregation lives (resubstitution, holdout, sliced and
    calibration evaluation all compose it). The weight map is inlined
    as the same literal-array lookup the GD rounds use
    (:func:`_w_lookup_expr`), so scoring is one map-side-combined
    groupBy over the checkpointed feature rows — no broadcast join, no
    label-frame join; ``extras`` names label columns riding the feats
    frame (constant per doc, carried via ``first``). Output stays
    hash-partitioned on the doc id for downstream co-partitioned
    joins."""
    return (
        feats.groupBy(id_col)
        .agg(*[F.first(c).alias(c) for c in extras],
             F.sum(F.expr(f"({_w_lookup_expr(w, dim)}) * xq"))
             .cast("long").alias("m"))
    )


def _auc_from_margins(margins: DataFrame,
                      group_col: str | None = None) -> DataFrame:
    """Tie-aware ROC-AUC from an ``(m, y)`` frame via histogram ranks —
    shared by the resubstitution, holdout and per-slice evaluations
    (see :func:`logreg_auc` for the derivation). With ``group_col`` the
    histogram, the rank window and the final aggregate are all
    partitioned by that column (one row per group, ordered). A
    single-class input (n_pos = 0 or n_neg = 0) has no defined AUC: the
    row is returned with ``auc`` NULL rather than a silent
    Infinity/NaN.

    Scale: the grouped form's window partitions by ``group_col`` (fully
    parallel). The UNGROUPED form must rank the whole histogram in one
    global order — with int64 margins the distinct-margin count is
    corpus-cardinality in the worst case, so an empty-partitionBy window
    would serialize the corpus onto one task. It instead runs the prefix
    sum through :func:`~cassandra_ttl_remover_spark.plans.two_level_cumsum`
    (range-partition on m, per-shard scan, driver-prefixed shard offsets
    broadcast back): identical integers — m is unique in the histogram,
    so there are no ties for the range order to split — at
    shard-parallel cost."""
    from pyspark.sql import Window

    from ..plans import two_level_cumsum

    keys = [group_col] if group_col else []
    hist = margins.groupBy(*keys, "m").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    if keys:
        win = (Window.partitionBy(*keys).orderBy("m")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = hist.withColumn(
            "cum", (F.sum("cnt").over(win) - F.col("cnt")).cast("long"))
    else:
        cum = two_level_cumsum(hist, ["m"], "cnt", out="_run").withColumn(
            "cum", (F.col("_run") - F.col("cnt")).cast("long")).drop("_run")
    out = (
        cum.groupBy(*keys)
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            (F.sum("cnt") - F.sum("pos")).cast("long").alias("n_neg"),
            F.sum(F.expr("pos * (2 * cum + cnt + 1)")).cast("long")
            .alias("_sum2r"),
        )
        .select(
            *keys, "n_pos", "n_neg",
            F.expr("_sum2r - n_pos * (n_pos + 1)").cast("long").alias("u2"),
            F.expr(
                "if(n_pos = 0 or n_neg = 0, cast(null as double), "
                "cast(_sum2r - n_pos * (n_pos + 1) as double)"
                " / cast(2 * n_pos * n_neg as double))"
            ).alias("auc"),
        )
    )
    return out.orderBy(group_col) if group_col else out


def logreg_holdout_auc(docs: DataFrame, train_where: str,
                       label_expr: str = "lang = 'en'", dim: int = 64,
                       iters: int = 2, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Honest (held-out) evaluation: train :func:`logreg_train` on the
    ``train_where`` subset, score the COMPLEMENT, report its exact
    ROC-AUC. Features are per-document only (tf, dl — no corpus
    statistics), so the two frames are fully independent and the split
    leaks nothing. Use curate.hash_split's stable murmur3 predicate as
    ``train_where`` for the reproducible-split form (declared query).

    Scale: two featurizations (train + holdout, each one explode + one
    map-side agg), model state a literal-array lookup — same shape as
    :func:`logreg_auc`, one extra corpus pass for the second frame."""
    y = {"y": f"if({label_expr}, 1L, 0L)"}
    train = docs.filter(train_where)
    held = docs.filter(f"NOT ({train_where})")
    feats_tr = checkpoint_partitioned(
        _lr_feats(train, dim, text_col, id_col, labels=y))
    w = _fit_weights(feats_tr, iters, dim, id_col)
    feats_ev = _lr_feats(held, dim, text_col, id_col, labels=y)
    return _auc_from_margins(
        _margins(feats_ev, w, dim, id_col, extras=("y",)))


def _mf_duck_cte(weights_cte: str, id_col: str, x_cte: str = "x") -> str:
    """Margin CTE ``mf(id, m)`` over a feature CTE and a weights CTE —
    the ONE place the oracle-side margin join lives (four oracles
    compose it)."""
    return f"""mf AS (
  SELECT {id_col}, sum(w * xq)::BIGINT AS m
  FROM {x_cte} JOIN {weights_cte} USING (bucket) GROUP BY {id_col}
)"""


def _auc_duck_tail(labels_cte: str, id_col: str,
                   group: bool = False) -> str:
    """The histogram-rank AUC tail over the ``mf`` margins CTE — the
    oracle twin of :func:`_auc_from_margins`, single-class NULL guard
    included. With ``group=True`` everything partitions/groups by a
    ``slice`` column the labels CTE must carry (the per-slice form)."""
    gsel = "slice, " if group else ""
    hist_gby = "GROUP BY slice, m" if group else "GROUP BY m"
    part = "PARTITION BY slice " if group else ""
    tail_gby = "GROUP BY slice ORDER BY slice" if group else ""
    return f"""hist AS (
  SELECT {gsel}m, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
  FROM mf JOIN {labels_cte} USING ({id_col}) {hist_gby}
),
cum AS (
  SELECT {gsel}m, cnt, pos,
         (sum(cnt) OVER ({part}ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - cnt)::BIGINT AS cum
  FROM hist
)
SELECT {gsel}sum(pos)::BIGINT AS n_pos,
       (sum(cnt) - sum(pos))::BIGINT AS n_neg,
       (sum(pos * (2 * cum + cnt + 1)) - sum(pos) * (sum(pos) + 1))::BIGINT
         AS u2,
       CASE WHEN sum(pos) = 0 OR sum(cnt) = sum(pos) THEN NULL
            ELSE (sum(pos * (2 * cum + cnt + 1))
                  - sum(pos) * (sum(pos) + 1))::DOUBLE
                 / (2 * sum(pos) * (sum(cnt) - sum(pos)))::DOUBLE
       END AS auc
FROM cum {tail_gby}"""


def logreg_holdout_auc_oracle_sql(train_where_duck: str,
                                  label_expr: str = "lang = 'en'",
                                  dim: int = 64, iters: int = 2,
                                  table: str = "documents",
                                  id_col: str = "doc_id") -> str:
    """Oracle: unrolled training over the train subset, margin scoring +
    AUC over the complement. ``train_where_duck`` must be the DuckDB
    twin of the Spark predicate (e.g. the murmur3 split expression from
    curate.hash_split_oracle_sql)."""
    train_tbl = f"(SELECT * FROM {table} WHERE {train_where_duck})"
    held_tbl = f"(SELECT * FROM {table} WHERE NOT ({train_where_duck}))"
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, train_tbl, id_col)
    # holdout featurization under the _e suffix (no CTE-name collision)
    ctes.append(_feats_duck_cte(dim, held_tbl, id_col, suffix="_e").strip())
    ctes.append(f"""x_e AS (
  SELECT {id_col}, bucket, ((tf * {LR_Q}) // dl)::BIGINT AS xq FROM feats_e
  UNION ALL
  SELECT DISTINCT {id_col}, -1 AS bucket, {LR_Q}::BIGINT AS xq FROM feats_e
)""")
    ctes.append(f"""labels_e AS (
  SELECT {id_col}, (CASE WHEN {label_expr} THEN 1 ELSE 0 END)::BIGINT AS y
  FROM {held_tbl}
)""")
    ctes.append(_mf_duck_cte(final, id_col, x_cte="x_e"))
    ctes.append(_auc_duck_tail("labels_e", id_col))
    body = ",\n".join(ctes[:-1])
    return f"WITH {body},\n{ctes[-1]}"


# ---------------------------------------------------------------------------
# model serving: zero-shuffle margin scoring (batch + streaming)
# ---------------------------------------------------------------------------

def margin_score_expr(weights: dict[int, int], dim: int) -> str:
    """SQL expression computing the trained margin for one document as a
    pure per-row projection — the SERVING form of the classifier: the
    <= dim+1 learned weights inline as a map literal, tf re-derived per
    distinct bucket with higher-order functions, NO explode, NO shuffle,
    NO state. Bit-identical to the training margin (same per-bucket
    ``(tf*Q) div dl`` quantization); unseen buckets score 0. Stateless,
    so it lifts to Structured Streaming unchanged.

    Contract: the input row must carry a ``_ws`` array column — the
    split-and-empty-filtered token array (``filter(split(text, ' '),
    w -> w <> '')``), as :func:`score_documents` builds it. Each token
    is md5-hashed exactly ONCE: the bucket array is bound via a 1-element
    transform wrapper, so per-doc cost is O(tokens + distinct_buckets *
    tokens) integer comparisons, not O(distinct_buckets * tokens) md5
    evaluations."""
    if not weights:
        raise ValueError("empty weight map")
    entries = ", ".join(f"{b}, {w}L" for b, w in sorted(weights.items()))
    bias = weights.get(-1, 0)
    bucket = _dsir_bucket_spark("s", dim)
    per_bucket = (
        f"acc + coalesce(element_at(map({entries}), b), 0L)"
        f" * ((size(filter(bs, x -> x = b)) * {LR_Q}) div size(bs))"
    )
    return (
        f"(case when size(_ws) = 0 then null else "
        # bind the hashed bucket array ONCE (1-element transform wrapper)
        f"element_at(transform(array(transform(_ws, s -> {bucket})), bs -> "
        f"{bias}L * {LR_Q} + aggregate(array_distinct(bs), 0L, "
        f"(acc, b) -> {per_bucket})), 1) end)"
    )


def score_documents(docs: DataFrame, weights: dict[int, int],
                    dim: int = 64, *, threshold: int | None = None,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Apply a trained weight map to a document frame as a zero-shuffle
    projection: ``(id, margin)``; with ``threshold`` keep only documents
    whose integer margin is >= it (the model-based quality GATE —
    FineWeb-Edu's serving step). Unfeaturizable (empty) docs drop.

    Scale: pure per-row HOF work fused into the scan — the model rides
    inside the expression (weights are <= dim+1 ints), so this runs at
    scan speed on any number of executors and, being stateless, on a
    stream (streaming.stream_model_gate)."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    out = (
        docs.select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.expr(margin_score_expr(weights, dim)).cast("long")
            .alias("margin"),
        )
        .filter(F.col("margin").isNotNull())
    )
    if threshold is not None:
        out = out.filter(F.col("margin") >= threshold)
    return out


def collect_weights(weights_df: DataFrame) -> dict[int, int]:
    """Driver-side weight map off a :func:`logreg_train` result — the
    bounded-collect convention (<= dim+1 rows by construction)."""
    return {int(r.bucket): int(r.weight) for r in weights_df.collect()}


def margin_cutoff(docs: DataFrame, weights: dict[int, int],
                  keep_frac: float = 0.5, dim: int = 64, *,
                  exact: bool = False, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Keep the top ``keep_frac`` of documents by trained margin — the
    budgeted form of the model gate ("best half by classifier score",
    FineWeb-Edu's actual selection rule), mirroring
    curate.quality_cutoff's two surfaces: the default path finds the
    cut margin with a map-side ``approx_percentile`` sketch and
    broadcast-filters (two scan passes, no global order — the 100 TB
    shape); ``exact=True`` is the deterministic surface (top
    ceil(frac*n) by (margin desc, id asc) through
    plans.two_level_row_number — range-sharded ranking on the unique
    (margin, id) key, equal to the single-window row_number exactly,
    so even the exact path never funnels the corpus through one
    task)."""
    import math

    from cassandra_ttl_remover_spark.plans import two_level_row_number

    scored = score_documents(docs, weights, dim,
                             text_col=text_col, id_col=id_col)
    if exact:
        n = scored.count()
        k = max(1, math.ceil(keep_frac * n))
        ranked = two_level_row_number(
            scored.withColumn("_negm", -F.col("margin")),
            ["_negm", id_col], out="rn",
        )
        return (
            ranked.filter(F.col("rn") <= k)
            .select(id_col, "margin")
        )
    thr = scored.agg(F.percentile_approx(
        "margin", 1.0 - keep_frac, 10000).alias("thr"))
    return (
        scored.join(F.broadcast(thr), F.col("margin") >= F.col("thr"))
        .select(id_col, "margin")
    )


def margin_cutoff_oracle_sql(label_expr: str = "lang = 'en'",
                             keep_frac: float = 0.5, dim: int = 64,
                             iters: int = 2, table: str = "documents",
                             id_col: str = "doc_id") -> str:
    """Oracle for the EXACT path of :func:`margin_cutoff` over weights
    trained on the same corpus — unrolled training CTEs + the same
    row_number cut."""
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    ctes.append(_mf_duck_cte(final, id_col))
    ctes.append(f"""rk AS (
  SELECT {id_col}, m,
         row_number() OVER (ORDER BY m DESC, {id_col}) AS rn
  FROM mf
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT {id_col}, m AS margin FROM rk
WHERE rn <= greatest(1, CAST(ceil({keep_frac} * (SELECT count(*) FROM mf))
                             AS BIGINT))
ORDER BY {id_col}""")


def margin_threshold(docs: DataFrame, weights: dict[int, int],
                     keep_frac: float = 0.5, dim: int = 64, *,
                     exact: bool = False, text_col: str = "text",
                     id_col: str = "doc_id") -> int:
    """The cut margin for a ``keep_frac`` gate — the CALIBRATION scalar
    a deployed streaming gate is configured with (gate rule:
    ``margin >= threshold``, so value-ties at the cut are all kept).

    Default path (the 100 TB shape): ``approx_percentile`` over the
    integer margins — one map-side-combined sketch, 1-row collect;
    sketch error moves the cut point by ~1/accuracy of the mass, never
    misorders documents. ``exact=True`` is the oracle surface: the k-th
    largest margin (k = ceil(frac*n), margin desc then id asc) via
    TakeOrdered — k grows with the corpus (k = n/2 at frac 0.5), so
    this form is for verification and small corpora only, exactly
    margin_cutoff's two-surface convention."""
    import math

    scored = score_documents(docs, weights, dim,
                             text_col=text_col, id_col=id_col)
    if exact:
        n = scored.count()
        k = max(1, math.ceil(keep_frac * n))
        rows = (scored.orderBy(F.desc("margin"), F.asc(id_col))
                .limit(k).agg(F.min("margin").alias("thr")).collect())
    else:
        rows = scored.agg(F.percentile_approx(
            "margin", 1.0 - keep_frac, 10000).alias("thr")).collect()
    if not rows or rows[0].thr is None:
        raise ValueError("margin_threshold over an empty corpus")
    return int(rows[0].thr)


def gated_margins_oracle_sql(label_expr: str = "lang = 'en'",
                             keep_frac: float = 0.5, dim: int = 64,
                             iters: int = 2, table: str = "documents",
                             id_col: str = "doc_id") -> str:
    """Oracle for train -> calibrate (:func:`margin_threshold`) ->
    gate (:func:`score_documents` / streaming.stream_model_gate): keeps
    every document with margin >= the k-th largest margin — ties at the
    cut INCLUDED, exactly the deployed gate's rule."""
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    ctes.append(_mf_duck_cte(final, id_col))
    ctes.append(f"""thr AS (
  SELECT min(m) AS t FROM (
    SELECT m FROM mf ORDER BY m DESC, {id_col} ASC
    LIMIT greatest(1, CAST(ceil({keep_frac} *
                                (SELECT count(*) FROM mf)) AS BIGINT))
  )
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT {id_col}, m AS margin FROM mf
WHERE m >= (SELECT t FROM thr) ORDER BY {id_col}""")


def margin_threshold_frame(scored: DataFrame, keep_frac: float,
                           margin_col: str = "m") -> DataFrame:
    """1-row ``(thr)`` frame: the k-th largest margin (k =
    ``ceil(keep_frac * n)``; ties at the cut are kept by the ``>=``
    gate), computed EXACTLY from the margin HISTOGRAM through the
    two-level prefix scan — :func:`margin_threshold`'s exact semantics
    at the 100 TB shape: no corpus TakeOrdered (whose k grows with the
    corpus), no single-partition window, and no driver round-trip — the
    threshold stays a broadcastable frame inside a composed plan.

    Derivation: with ``c(m)`` = docs scoring >= m (top-down cumulative
    histogram count), the k-th largest margin is ``max{m : c(m) >= k}``
    — the same value as ``min(m)`` over the (margin desc, id asc)
    top-k, which is what the oracle computes."""
    from ..plans import two_level_cumsum

    hist = (
        scored.groupBy(margin_col)
        .agg(F.count("*").cast("long").alias("_cnt"))
        .withColumn("_negm", -F.col(margin_col))
    )
    cum = two_level_cumsum(hist, ["_negm"], "_cnt", out="_c")
    tot = F.broadcast(cum.agg(F.max("_c").alias("_n")))
    return (
        cum.crossJoin(tot)
        .filter(F.expr(
            f"_c >= greatest(1L, cast(ceil({keep_frac} * _n) as bigint))"))
        .agg(F.max(margin_col).alias("thr"))
    )


def model_curate_corpus(docs: DataFrame, label_expr: str = "lang = 'en'",
                        keep_frac: float = 0.5, temperature: int = 2,
                        dim: int = 64, iters: int = 2,
                        min_words: int = 10, min_stop_hits: int = 2,
                        domain_col: str = "lang", text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """The end-to-end MODEL-BASED curation pipeline — FineWeb's actual
    shape — composed as ONE lazy plan with no corpus data ever routed
    through the driver:

        gopher_rules  ->  train logreg on survivors  ->  budgeted
        margin gate (top ``keep_frac``, ties kept)  ->  temperature-
        smoothed domain mix (UniMax, derived rates over the gate's
        survivors)  ->  exact content dedup (min-id per md5 digest)

    Returns the surviving ``(id, domain, margin)`` rows ordered by id.

    Scale, stage by stage: gopher is a zero-shuffle projection fused
    into both downstream corpus reads (featurize + domain/digest — two
    text scans total, the holdout-AUC shape); training is one
    single-exchange job per iteration over the id-partitioned
    checkpointed feature frame with the <= dim+1 weights driver-held
    (:func:`_fit_weights`); the gate threshold is
    :func:`margin_threshold_frame` (exact, histogram-parallel,
    broadcast); the mix thresholds are a <= |domains|-row broadcast;
    dedup shuffles only (digest, id) pairs. No driver collect here is
    ever bigger than the weight map / the two-level scan's <= shards
    offsets."""
    from cassandra_ttl_remover_spark.operators.curate import (
        _MIX_BUCKETS,
        temperature_mix_thresholds,
    )
    from cassandra_ttl_remover_spark.operators.text import gopher_rules

    # Materialize the gopher-gated corpus ONCE: featurize (hashed_tf) and
    # the label/digest projection are BOTH full text scans of `kept`, and
    # un-cut each re-runs the parquet scan plus the whole gopher HOF
    # battery (measured r12: two text scans + two gopher evaluations for
    # one gate). At 100 TB this is the gate->train stage boundary — one
    # write of the surviving docs, two cheap columnar reads.
    #
    # Parallelism floor (r13, guide §2.5): the gate battery is fanned out
    # and applied as a Generate guard (explode of a 0/1-element array)
    # rather than a filter — a filter on the projected passes_gopher
    # column gets SUBSTITUTED through the projection and pushed below the
    # fan-out exchange, re-serializing the whole HOF battery onto the
    # single-split scan task (the r12 line_dedup finding; ABAB measured
    # 0.64 -> 0.28 s for the gate stage at sf0.1). A Generate cannot sink
    # below the exchange, and at scale fan_out is a planning-time no-op
    # so the guard adds one trivial per-row array alloc.
    kept = (
        gopher_rules(fan_out(docs.select(id_col, text_col, domain_col)),
                     text_col, id_col, min_words,
                     keep_cols=(text_col, domain_col),
                     min_stop_hits=min_stop_hits)
        .withColumn("_g", F.explode(F.expr(
            "CASE WHEN passes_gopher THEN array(1) ELSE array() END")))
        .drop("_g")
        .localCheckpoint(eager=False)
    )
    feats = checkpoint_partitioned(_lr_feats(
        kept, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)"}))
    # the domain/digest projection stays its own narrow label frame
    # (joined back on the id, co-partitioned with the margins agg): the
    # 32-char digest would otherwise ride EVERY feats row through the
    # featurize exchange (~dim rows per doc)
    labels = _labels_checkpoint(kept.select(
        F.col(id_col),
        F.col(domain_col).alias("_dom0"),
        F.md5(F.col(text_col)).alias("_dg"),
    ), id_col)
    w = _fit_weights(feats, iters, dim, id_col)
    # the scored frame feeds FOUR consumers (the threshold histogram,
    # the mix-threshold counts, the mix filter, and — through mix — the
    # dedup representatives): checkpoint it once so the final job does
    # not re-evaluate the whole training+margins chain per branch
    scored = (
        _margins(feats, w, dim, id_col)
        .join(labels, id_col)
        .localCheckpoint(eager=False)
    )
    # Both threshold frames are tiny (1 row / <= |domains| rows) but their
    # PLANS are corpus-scale (margin histogram + two-level scan; domain
    # counts over the gate). Each downstream job that broadcast-builds
    # them would re-run those plans from the scored blocks (measured r12:
    # the thr histogram re-executed per consumer, ~0.7 s each at sf0.1) —
    # an eager localCheckpoint runs each exactly once and every consumer
    # reads the materialized rows.
    thr = F.broadcast(
        margin_threshold_frame(scored, keep_frac, "m").localCheckpoint())
    gate = scored.join(thr, F.col("m") >= F.col("thr")).drop("thr")
    mthr = F.broadcast(
        temperature_mix_thresholds(gate, temperature, domain_col="_dom0")
        .localCheckpoint())
    mix = (
        gate.join(mthr, gate["_dom0"] == mthr["_dom"])
        .filter(F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS))
                < F.col("_thr"))
    )
    reps = mix.groupBy("_dg").agg(F.min(id_col).alias(id_col))
    return (
        mix.join(reps.select(id_col), id_col, "left_semi")
        .select(F.col(id_col), F.col("_dom0").alias("domain"),
                F.col("m").alias("margin"))
        .orderBy(id_col)
    )


def model_curate_oracle_sql(label_expr: str = "lang = 'en'",
                            keep_frac: float = 0.5, temperature: int = 2,
                            dim: int = 64, iters: int = 2,
                            min_words: int = 10, min_stop_hits: int = 2,
                            domain_col: str = "lang",
                            table: str = "documents",
                            id_col: str = "doc_id") -> str:
    """Composed oracle for :func:`model_curate_corpus` — the gopher
    oracle embedded as the training-source subquery, the unrolled
    training CTEs over it, the top-k-min threshold (equal by derivation
    to the Spark side's histogram max — see margin_threshold_frame),
    the derived mix thresholds, and the min-id dedup."""
    from cassandra_ttl_remover_spark.operators.curate import _MIX_BUCKETS
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )
    from cassandra_ttl_remover_spark.operators.text import (
        gopher_rules_oracle_sql,
    )

    if temperature == 1:
        rate = "1.0"
    elif temperature == 2:
        rate = "sqrt(_nmin::DOUBLE / _n::DOUBLE)"
    elif temperature == 4:
        rate = ("sqrt(_nmin::DOUBLE / _n::DOUBLE)"
                " * sqrt(sqrt(_nmin::DOUBLE / _n::DOUBLE))")
    else:
        raise ValueError("supported dyadic temperatures: 1, 2, 4")
    gopher = gopher_rules_oracle_sql(min_words=min_words, table=table,
                                     id_col=id_col,
                                     min_stop_hits=min_stop_hits)
    ctes = [f"""gsrc AS (
  SELECT d.* FROM {table} d
  WHERE d.{id_col} IN (SELECT {id_col} FROM ({gopher})
                       WHERE passes_gopher)
)"""]
    lr_ctes, final = _lr_duck_ctes(label_expr, dim, iters, "gsrc", id_col)
    ctes += lr_ctes
    ctes.append(_mf_duck_cte(final, id_col))
    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    ctes.append(f"""gate0 AS (
  SELECT mf.{id_col}, mf.m, g.{domain_col} AS dom, md5(g.text) AS dg
  FROM mf JOIN gsrc g USING ({id_col})
)""")
    ctes.append(f"""thr AS (
  SELECT min(m) AS t FROM (
    SELECT m FROM mf ORDER BY m DESC, {id_col} ASC
    LIMIT greatest(1, CAST(ceil({keep_frac} *
                                (SELECT count(*) FROM mf)) AS BIGINT))
  )
)""")
    ctes.append("gate AS (SELECT * FROM gate0 "
                "WHERE m >= (SELECT t FROM thr))")
    ctes.append("cnts AS (SELECT dom, count(*)::BIGINT AS _n "
                "FROM gate GROUP BY dom)")
    ctes.append("nmin AS (SELECT min(_n)::BIGINT AS _nmin FROM cnts)")
    ctes.append(f"""mthr AS (
  SELECT dom, CAST(floor(({rate}) * {_MIX_BUCKETS}) AS BIGINT) AS _thr
  FROM cnts CROSS JOIN nmin
)""")
    ctes.append(f"""mix AS (
  SELECT g.* FROM gate g JOIN mthr USING (dom)
  WHERE {bucket} < _thr
)""")
    ctes.append(f"reps AS (SELECT dg, min({id_col}) AS {id_col} "
                "FROM mix GROUP BY dg)")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT m2.{id_col}, m2.dom AS domain, m2.m AS margin
FROM mix m2 JOIN reps USING (dg, {id_col})
ORDER BY m2.{id_col}""")


def logreg_sliced_auc(docs: DataFrame, slice_col: str = "source",
                      label_expr: str = "lang = 'en'", dim: int = 64,
                      iters: int = 2, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-slice scorer evaluation — the model-governance report: train
    once on the whole corpus, then compute the exact tie-aware ROC-AUC
    WITHIN each ``slice_col`` group (per source, per language, ...) so
    a classifier that looks fine in aggregate cannot hide a collapsed
    slice (the standard disaggregated-evaluation practice). Returns one
    row per slice ``(slice, n_pos, n_neg, u2, auc)``, auc NULL for
    single-class slices, ordered by slice.

    Scale: same histogram-rank construction as :func:`logreg_auc`, but
    the rank window is PARTITIONED BY the slice — per-slice histograms
    rank in parallel, so unlike the global AUC there is not even a
    bounded single-partition stage."""
    feats = checkpoint_partitioned(_lr_feats(
        docs, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)", "slice": slice_col}))
    w = _fit_weights(feats, iters, dim, id_col)
    return _auc_from_margins(
        _margins(feats, w, dim, id_col, extras=("y", "slice")),
        group_col="slice")


def logreg_sliced_auc_oracle_sql(slice_col: str = "source",
                                 label_expr: str = "lang = 'en'",
                                 dim: int = 64, iters: int = 2,
                                 table: str = "documents",
                                 id_col: str = "doc_id") -> str:
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    ctes.append(_mf_duck_cte(final, id_col))
    ctes.append(f"""labels_sl AS (
  SELECT {id_col}, {slice_col} AS slice, y
  FROM labels JOIN (SELECT {id_col}, {slice_col} FROM {table})
       USING ({id_col})
)""")
    ctes.append(_auc_duck_tail("labels_sl", id_col, group=True))
    body = ",\n".join(ctes[:-1])
    return f"WITH {body},\n{ctes[-1]}"


#: calibration probability quantum: p is floored to multiples of 2**-20
#: before binning/summing, so every per-bin statistic is an exact int64
#: sum (the module's no-float-sums discipline).
CAL_Q = 1 << 20


def logreg_calibration(docs: DataFrame, n_bins: int = 10,
                       label_expr: str = "lang = 'en'", dim: int = 64,
                       iters: int = 2, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Reliability report for the trained classifier — the calibration
    half of evaluation (AUC ranks, calibration trusts the probability):
    per predicted-probability bin, the doc count, the positive count,
    the exact sum of quantized predicted probabilities, and the exact
    Brier numerator. ECE and the Brier score are one division away for
    the consumer; nothing here sums floats.

    Probability: the rational fast sigmoid of the margin,
    ``p = (D + |M| + M) / (2*(D + |M|))``, quantized
    ``pq = floor(p * 2**20)`` (division and multiply are single
    correctly-rounded ops — deterministic in both engines). Bins are
    equal-width over the OBSERVED pq range (min/max are exact ints, so
    the edges are deterministic): a filter model's probabilities
    cluster in a narrow band, and fixed [0,1] deciles would put the
    whole corpus in one bin — range bins keep the diagram
    discriminating; the per-bin ``sum_pq`` still reports where in [0,1]
    each bin actually sits. Brier term = ``(pq - y*2**20)^2``
    (int64: <= 2**40 per doc).

    Scale: margins are the usual literal-weights doc-id agg; the pq
    extrema are a 1-row broadcast aggregate; the report is one
    map-side-combined groupBy over <= n_bins keys."""
    feats = checkpoint_partitioned(_lr_feats(
        docs, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)"}))
    w = _fit_weights(feats, iters, dim, id_col)
    D = LR_S * LR_Q
    scored = _margins(feats, w, dim, id_col, extras=("y",)).select(
        "y",
        F.expr(
            f"cast(floor((cast(({D} + abs(m) + m) as double)"
            f" / cast(2 * ({D} + abs(m)) as double)) * {CAL_Q})"
            " as long)"
        ).alias("pq"),
    )
    scored = scored.localCheckpoint(eager=False)  # extrema + binning
    ext = F.broadcast(scored.agg(
        F.min("pq").alias("_lo"),
        (F.max("pq") - F.min("pq") + 1).alias("_span")))
    return (
        scored.crossJoin(ext)
        .groupBy(F.expr(f"((pq - _lo) * {n_bins}) div _span").cast("long")
                 .alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("pq").cast("long").alias("sum_pq"),
            F.sum(F.expr(f"(pq - y * {CAL_Q}) * (pq - y * {CAL_Q})"))
            .cast("long").alias("brier_num"),
        )
        .orderBy("bin")
    )


def logreg_calibration_oracle_sql(n_bins: int = 10,
                                  label_expr: str = "lang = 'en'",
                                  dim: int = 64, iters: int = 2,
                                  table: str = "documents",
                                  id_col: str = "doc_id") -> str:
    D = LR_S * LR_Q
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    ctes.append(_mf_duck_cte(final, id_col))
    ctes.append(f"""scored AS (
  SELECT y,
         CAST(floor((({D} + abs(m) + m)::DOUBLE
                     / (2 * ({D} + abs(m)))::DOUBLE) * {CAL_Q}) AS BIGINT)
           AS pq
  FROM mf JOIN labels USING ({id_col})
)""")
    ctes.append("""ext AS (
  SELECT min(pq)::BIGINT AS lo, (max(pq) - min(pq) + 1)::BIGINT AS span
  FROM scored
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT (((pq - lo) * {n_bins}) // span)::BIGINT AS bin,
       count(*)::BIGINT AS n,
       sum(y)::BIGINT AS n_pos,
       sum(pq)::BIGINT AS sum_pq,
       sum((pq - y * {CAL_Q}) * (pq - y * {CAL_Q}))::BIGINT AS brier_num
FROM scored CROSS JOIN ext GROUP BY bin ORDER BY bin""")


def logreg_auc_oracle_sql(label_expr: str = "lang = 'en'", dim: int = 64,
                          iters: int = 2, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    ctes.append(_mf_duck_cte(final, id_col))
    ctes.append(_auc_duck_tail("labels", id_col))
    body = ",\n".join(ctes[:-1])
    return f"WITH {body},\n{ctes[-1]}"


def quality_signals(docs: DataFrame, label_expr: str = "lang = 'en'",
                    lm_train_where: str = "lang = 'en'",
                    dim: int = 64, iters: int = 2,
                    min_words: int = 50, min_stop_hits: int = 2,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """The per-document multi-signal quality MATRIX — what a curation
    team inspects before choosing gates (the standard practice behind
    FineWeb/RedPajama ablations): every document with its rule-battery
    verdict (Gopher), its trained discriminative margin (logreg), and
    its generative LM surprise (CCNet bigram perplexity surrogate) side
    by side, so gate thresholds can be chosen from ONE frame and signal
    disagreement (rules pass / model rejects, and vice versa) is
    directly queryable.

    Scale: three independent signal pipelines over the same scan —
    each with its own documented shape (zero-shuffle projection;
    literal-weights margins over the id-partitioned checkpointed
    feature frame; histogram-model join) — combined by two doc-id
    joins of narrow integer frames. Nothing here is new machinery;
    the value is the composition."""
    from cassandra_ttl_remover_spark.operators.curate import lm_perplexity
    from cassandra_ttl_remover_spark.operators.text import gopher_rules

    rules = gopher_rules(docs, text_col, id_col, min_words,
                         min_stop_hits=min_stop_hits).select(
        F.col(id_col), F.col("passes_gopher"))
    feats = checkpoint_partitioned(_lr_feats(
        docs, dim, text_col, id_col,
        labels={"y": f"if({label_expr}, 1L, 0L)"}))
    w = _fit_weights(feats, iters, dim, id_col)
    margins = _margins(feats, w, dim, id_col).select(
        F.col(id_col), F.col("m").alias("margin"))
    ppl = lm_perplexity(docs, lm_train_where, text_col, id_col).select(
        F.col(id_col), F.col("ppl_permille"))
    return (
        rules.join(margins, id_col, "left")
        .join(ppl, id_col, "left")
        .orderBy(id_col)
    )


def quality_signals_oracle_sql(label_expr: str = "lang = 'en'",
                               lm_train_where: str = "lang = 'en'",
                               dim: int = 64, iters: int = 2,
                               min_words: int = 50,
                               min_stop_hits: int = 2,
                               table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """Composed oracle: the three signal oracles as parenthesized
    WITH-subqueries joined on the doc id (the model_curate embedding
    convention — no CTE-name collisions between the three chains)."""
    from cassandra_ttl_remover_spark.operators.curate import (
        lm_perplexity_oracle_sql,
    )
    from cassandra_ttl_remover_spark.operators.text import (
        gopher_rules_oracle_sql,
    )

    gopher = gopher_rules_oracle_sql(min_words=min_words, table=table,
                                     id_col=id_col,
                                     min_stop_hits=min_stop_hits)
    lr_ctes, final = _lr_duck_ctes(label_expr, dim, iters, table, id_col)
    lr_ctes.append(_mf_duck_cte(final, id_col))
    margins = ("WITH " + ",\n".join(lr_ctes)
               + f"\nSELECT {id_col}, m FROM mf")
    lm = lm_perplexity_oracle_sql(lm_train_where, table, id_col)
    return f"""
SELECT gq.{id_col}, gq.passes_gopher, mg.m AS margin, sc.ppl_permille
FROM ({gopher}) gq
LEFT JOIN ({margins}) mg USING ({id_col})
LEFT JOIN ({lm}) sc USING ({id_col})
ORDER BY gq.{id_col}
"""
