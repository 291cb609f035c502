"""Model-based curation operators (operators/classify.py): semantic
correctness on constructed corpora + the plan-budget properties the
100 TB story depends on (broadcast model state, bounded exchanges, no
corpus-side text shuffle)."""

import pyspark.sql.functions as F
import pytest

from cassandra_ttl_remover_spark.operators import classify as C
from cassandra_ttl_remover_spark.plans import (
    exchange_count,
    formatted_plan,
    has_broadcast_join,
)


def _toy_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# featurization
# ---------------------------------------------------------------------------

def test_hashed_tf_counts_and_lengths(spark):
    docs = _toy_docs(spark, [(1, "a b a", "en"), (2, "", "en"),
                             (3, "c", "fr")])
    rows = {(r.doc_id, r.bucket): (r.dl, r.tf)
            for r in C.hashed_tf(docs, dim=4096).collect()}
    # doc 2 (empty) contributes nothing; doc 1 has dl=3 with tf 2+1
    assert all(dl == 3 for (d, _), (dl, _) in rows.items() if d == 1)
    assert sorted(tf for (d, _), (_, tf) in rows.items() if d == 1) == [1, 2]
    assert not any(d == 2 for (d, _) in rows)
    assert [(dl, tf) for (d, _), (dl, tf) in rows.items() if d == 3] == [(1, 1)]


def test_lr_feats_fused_bias_matches_reference_construction(spark):
    # r12: the bias pseudo-bucket is injected into the featurize explode
    # (one aggregation) instead of a distinct+union second branch. Pin
    # row-identity against the reference two-branch construction over
    # hashed_tf — including the empty doc, which must stay unfeaturized
    # (no bias row) so the GD N and the oracle are unchanged.
    docs = _toy_docs(spark, [
        (1, "aa bb aa cc", "en"), (2, "bb bb", "fr"), (3, "", "en"),
        (4, "zz", "fr"),
    ])
    ref = (
        C.hashed_tf(docs, 32)
        .select(F.col("doc_id"), "bucket",
                F.expr(f"(tf * {C.LR_Q}) div dl").cast("long").alias("xq"))
        .unionByName(
            C.hashed_tf(docs, 32).select("doc_id").distinct().select(
                F.col("doc_id"), F.lit(-1).alias("bucket"),
                F.lit(C.LR_Q).cast("long").alias("xq")))
    )
    got = C._lr_feats(docs, 32, "text", "doc_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    assert got.filter("doc_id = 3").count() == 0  # empty doc: no bias row
    # single-aggregation shape: the two-branch union is gone from the plan
    assert "Union" not in formatted_plan(got)


def test_hashed_tfidf_weight_formula(spark):
    # two docs, one shared token: df=2 for it, df=1 for the singleton
    docs = _toy_docs(spark, [(1, "x y", "en"), (2, "x", "en")])
    out = {(r.doc_id, r.bucket): r for r in
           C.hashed_tfidf(docs, dim=4096).collect()}
    n1 = 3  # N=2 featurized docs + 1
    for (_, _), r in out.items():
        assert r.w == ((r.tf * C.TFIDF_Q) // r.dl) * n1 // (r.df + 1)
    assert {r.df for r in out.values()} == {1, 2}


# ---------------------------------------------------------------------------
# text kNN
# ---------------------------------------------------------------------------

def test_text_knn_self_is_rank_one_and_duplicates_tie(spark):
    docs = _toy_docs(spark, [
        (1, "alpha beta gamma", "en"),
        (2, "alpha beta gamma", "en"),     # exact duplicate of 1
        (3, "alpha beta delta", "en"),     # 2/3 overlap
        (4, "omega psi chi", "en"),        # disjoint
    ])
    rows = C.text_knn(docs, 1, k=4, dim=4096).collect()
    assert [r.doc_id for r in rows[:2]] == [1, 2]   # self, then its dup
    assert abs(rows[0].cosine - 1.0) < 1e-12
    assert abs(rows[1].cosine - rows[0].cosine) < 1e-12
    assert rows[2].doc_id == 3 and rows[2].cosine < 1.0
    assert all(r.doc_id != 4 for r in rows)  # no shared bucket -> no row


def test_text_knn_query_norm_past_int64_raises_naming_query(spark,
                                                            monkeypatch):
    """The query's squared norm is an exact Python sum folded into the
    plan as a long literal: one past int64 fails with a ValueError that
    names the query instead of reaching the cast, and one just under it
    still runs."""
    def weights(w):
        return lambda docs, dim, text_col, id_col: docs.sparkSession \
            .createDataFrame([(7, 1, w)], f"{id_col} long, bucket int, w long")

    docs = _toy_docs(spark, [(7, "x", "en")])
    monkeypatch.setattr(C, "hashed_tfidf", weights(3_037_000_500))
    with pytest.raises(ValueError, match="query_id 7 .*past int64"):
        C.text_knn(docs, 7)
    monkeypatch.setattr(C, "hashed_tfidf", weights(3_037_000_499))
    [row] = C.text_knn(docs, 7).collect()
    assert row.doc_id == 7 and row.dot == 3_037_000_499 ** 2


def test_text_knn_plan_broadcasts_query_and_stats(spark, documents):
    df = C.text_knn(documents, 0, k=10, dim=512)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), "query vector / df dictionary must broadcast"
    assert "TakeOrdered" in plan, "top-k must be TakeOrdered, not a global sort"


# ---------------------------------------------------------------------------
# Rocchio
# ---------------------------------------------------------------------------

def test_rocchio_separable_classes_sit_on_the_diagonal(spark):
    docs = _toy_docs(spark, [
        (1, "hund katze maus hund", "de"), (2, "katze maus hund", "de"),
        (3, "dog cat mouse dog", "en"), (4, "cat mouse dog cat", "en"),
        (5, "chien chat souris", "fr"), (6, "chat souris chien chat", "fr"),
    ])
    conf = {(r.label, r.pred): r.n
            for r in C.rocchio_confusion(docs, "lang", dim=4096).collect()}
    assert conf == {("de", "de"): 2, ("en", "en"): 2, ("fr", "fr"): 2}


def test_rocchio_class_model_broadcasts(spark, documents):
    df = C.rocchio_confusion(documents, "lang", dim=512)
    assert has_broadcast_join(df), "class-sum model frame must broadcast"


# ---------------------------------------------------------------------------
# logistic regression
# ---------------------------------------------------------------------------

def test_spark_div_truncates_toward_zero_like_duckdb(spark):
    # the quantization contract: both engines' integer division must
    # truncate toward zero (DuckDB -7//2 = -3, asserted in CI via the
    # oracle hash; this pins the Spark side)
    r = spark.sql("select -7 div 2 a, 7 div 2 b, -1 div 2 c").collect()[0]
    assert (r.a, r.b, r.c) == (-3, 3, 0)


def test_logreg_learns_a_separable_vocabulary(spark):
    # 'en' docs say good/fine, others say mauvais/schlecht — after two
    # quantized GD steps the en-token weights must be positive and the
    # non-en token weights negative
    docs = _toy_docs(spark, [
        (i, "good fine good", "en") for i in range(6)
    ] + [
        (10 + i, "mauvais schlecht mauvais", "fr") for i in range(6)
    ])
    w = C.logreg_train(docs, "lang = 'en'", dim=256, iters=2)
    weights = {r.bucket: r.weight for r in w.collect()}
    assert -1 in weights  # bias pseudo-bucket
    pos = [v for b, v in weights.items() if b != -1 and v > 0]
    neg = [v for b, v in weights.items() if b != -1 and v < 0]
    assert pos and neg, f"separable corpus must split weight signs: {weights}"
    # scoring separates the classes
    auc_row = C.logreg_auc(docs, "lang = 'en'", dim=256, iters=2).collect()[0]
    assert auc_row.n_pos == 6 and auc_row.n_neg == 6
    assert auc_row.auc == 1.0, "perfectly separable corpus must reach AUC 1"


def test_logreg_weight_update_matches_hand_computation(spark):
    # one doc, one token: margin 0 -> p = 1/2 -> rq = +-R/2; the bias and
    # token share xq = Q (tf=dl=1), so after one step
    # w = (eta*S*(R/2)*Q) div (1*R*Q) = eta*S/2 for y=1
    docs = _toy_docs(spark, [(1, "tok", "en")])
    w = {r.bucket: r.weight
         for r in C.logreg_train(docs, "lang = 'en'", dim=8,
                                 iters=1).collect()}
    assert set(w.values()) == {C.LR_ETA * C.LR_S // 2}
    # and the mirror-image negative class
    w2 = {r.bucket: r.weight
          for r in C.logreg_train(docs, "lang = 'fr'", dim=8,
                                  iters=1).collect()}
    assert set(w2.values()) == {-(C.LR_ETA * C.LR_S // 2)}


def test_logreg_gd_round_is_one_exchange_and_id_partitioned(spark,
                                                            documents):
    # r12: the GD round is ONE single-exchange job — the margin window
    # runs over the id partition of the checkpointed feature frame (no
    # exchange, no broadcast build) and the only Exchange in the plan is
    # the <= dim+1-key gradient groupBy. The weight state lives on the
    # driver (the doremi_weights bounded-collect precedent), so there is
    # no weights frame, no per-iteration join, and no checkpoint chain.
    from cassandra_ttl_remover_spark.plans import checkpoint_partitioned

    feats = checkpoint_partitioned(C._lr_feats(
        documents, 64, "text", "doc_id", labels={"y": "if(lang = 'en', 1L, 0L)"}))
    feats.count()  # materialize so the round plan sees the LogicalRDD
    rnd = C._grad_round_frame(feats, {-1: 3, 0: -5}, 64, "doc_id")
    plan = formatted_plan(rnd)
    assert exchange_count(rnd) <= 1, plan
    # the margin window must be partitioned on the doc id (never empty)
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_logreg_driver_update_matches_spark_div_semantics():
    # _tdiv must reproduce Spark's `div` (truncation toward zero) —
    # Python's // floors, which differs on every mixed-sign gradient
    for a in (-7, -6, -1, 0, 1, 6, 7):
        for b in (-3, -2, 2, 3):
            want = abs(a) // abs(b)
            want = want if (a >= 0) == (b >= 0) else -want
            assert C._tdiv(a, b) == want, (a, b)


# ---------------------------------------------------------------------------
# AUC
# ---------------------------------------------------------------------------

def test_auc_histogram_formula_on_known_rankings(spark):
    # AUC via the operator vs hand values: use single-token docs whose
    # margins order deterministically after training on themselves is
    # overkill — instead pin the tie-aware histogram math through a
    # random-scorer corpus: all docs identical => every margin ties =>
    # AUC must be exactly 0.5
    docs = _toy_docs(spark, [
        (i, "same text here", "en" if i % 2 == 0 else "fr")
        for i in range(10)
    ])
    r = C.logreg_auc(docs, "lang = 'en'", dim=64, iters=2).collect()[0]
    assert (r.n_pos, r.n_neg) == (5, 5)
    assert r.auc == 0.5, "all-tied scores must give exactly 1/2"
    assert r.u2 == 2 * r.n_pos * r.n_neg // 2  # u2 = PN at AUC 1/2


def test_serving_margin_equals_training_margin(spark):
    # the HOF serving form (score_documents) must be bit-identical to
    # the explode-form training margin: same per-bucket (tf*Q) div dl
    # quantization, bias included
    docs = _toy_docs(spark, [
        (1, "aa bb aa cc", "en"), (2, "bb bb", "fr"), (3, "", "en"),
        (4, "zz", "fr"),
    ])
    wdf = C.logreg_train(docs, "lang = 'en'", dim=32, iters=2)
    w = C.collect_weights(wdf)
    served = {r.doc_id: r.margin
              for r in C.score_documents(docs, w, 32).collect()}
    feats = C._lr_feats(docs, 32, "text", "doc_id")
    trained = {
        r.doc_id: r.m
        for r in feats.join(
            wdf.withColumnRenamed("weight", "w"), "bucket")
        .groupBy("doc_id").agg(F.sum(F.expr("w * xq")).alias("m"))
        .collect()
    }
    assert served == trained
    assert 3 not in served  # empty doc unfeaturizable in both forms


def test_margin_cutoff_exact_and_threshold_rules(spark):
    docs = _toy_docs(spark, [
        (i, t, "en") for i, t in enumerate(
            ["good fine", "good good", "bad awful", "bad bad", "fine fine"])
    ])
    w = C.collect_weights(C.logreg_train(docs, "doc_id < 2", dim=64))
    kept = C.margin_cutoff(docs, w, 0.4, dim=64, exact=True).collect()
    assert len(kept) == 2  # ceil(0.4 * 5)
    thr = C.margin_threshold(docs, w, 0.4, dim=64, exact=True)
    # gate rule margin >= thr keeps at least the exact-k set (ties widen)
    gated = C.score_documents(docs, w, 64, threshold=thr).collect()
    assert {r.doc_id for r in kept} <= {r.doc_id for r in gated}
    assert min(r.margin for r in gated) == thr


def test_holdout_auc_counts_only_heldout_docs(spark):
    docs = _toy_docs(spark, [
        (i, f"tok{i % 3} filler", "en" if i % 2 == 0 else "fr")
        for i in range(20)
    ])
    r = C.logreg_holdout_auc(docs, "doc_id < 15").collect()[0]
    assert r.n_pos + r.n_neg == 5  # only the held-out fold is scored
    assert 0.0 <= r.auc <= 1.0


def test_auc_single_class_is_null_not_infinity(spark):
    # a corpus where the label never (or always) fires has no defined
    # AUC — the guard must emit NULL, not a silent Infinity/NaN
    docs = _toy_docs(spark, [(i, f"w{i} text", "en") for i in range(6)])
    r = C.logreg_auc(docs, "lang = 'en'").collect()[0]  # all positive
    assert r.n_neg == 0 and r.auc is None
    r2 = C.logreg_auc(docs, "lang = 'zz'").collect()[0]  # none positive
    assert r2.n_pos == 0 and r2.auc is None


def test_auc_window_runs_over_histogram_not_corpus(spark, documents):
    # the ungrouped AUC prefix sum must never serialize onto one task:
    # with int64 margins the histogram's cardinality is corpus-size in
    # the worst case, so an empty-partitionBy window (Exchange
    # SinglePartition feeding Window) is a 100 TB bottleneck. The path
    # routes through plans.two_level_cumsum instead — every window spec
    # in the plan must carry a partition column (the shard id _pid)
    import re

    for df in (
        C.logreg_auc(documents, dim=64, iters=2),
        C.logreg_holdout_auc(
            documents, "pmod(hash(doc_id), 5) != 0", dim=64, iters=2),
    ):
        plan = formatted_plan(df)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, "expected the shard-local rank window in the plan"
        # an UNpartitioned spec starts directly with the order column
        # ("m ASC ..."); the partitioned one leads with _pid
        unpart = [s for s in specs if s.lstrip().startswith("m ")]
        assert not unpart, f"empty-partitionBy window over margins: {unpart}"


def test_logreg_feats_partitioning_survives_checkpoint(spark, documents):
    # the GD round's margin window keys on the doc id; _lr_feats
    # pre-partitions on id and checkpoint_partitioned keeps that
    # partitioning VISIBLE through the checkpoint, so every round (and
    # the scoring agg) reuses it instead of re-exchanging the feature
    # frame — plan-pinned: the scoring aggregation over the checkpoint
    # adds ZERO exchanges
    from cassandra_ttl_remover_spark.plans import checkpoint_partitioned

    feats = checkpoint_partitioned(C._lr_feats(
        documents, 64, "text", "doc_id",
        labels={"y": "if(lang = 'en', 1L, 0L)"}))
    feats.count()
    scored = C._margins(feats, {-1: 3, 5: -2}, 64, "doc_id", extras=("y",))
    assert exchange_count(scored) == 0, formatted_plan(scored)


# ---------------------------------------------------------------------------
# exchange budgets
# ---------------------------------------------------------------------------

def test_featurizer_prunes_scan_to_id_and_text(spark):
    # the featurizer must push column pruning into the parquet scan:
    # ReadSchema carries doc_id+text only — n_chars/source/lang never read
    from cassandra_ttl_remover_spark import scan_table

    # sf0.01, NOT the conftest fixture's sf0.001: the fixture caches the
    # table, and Spark's CacheManager would swap this scan for the
    # InMemoryRelation (hiding the parquet ReadSchema we assert on)
    docs = scan_table(spark, "/root/testdata/sf0.01", "documents")
    plan = formatted_plan(C.hashed_tf(docs, 512))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, "no parquet ReadSchema in plan"
    line = read[0]
    assert "doc_id" in line and "text" in line
    assert "n_chars" not in line and "source" not in line


def test_classify_exchange_budgets(spark, documents):
    # featurize: fan_out floor + groupBy(id,bucket) = <=2 exchanges;
    # downstream model joins are broadcast so add only their own aggs
    assert exchange_count(C.hashed_tf(documents, 512)) <= 2
    assert exchange_count(C.hashed_tfidf(documents, 512)) <= 4
    assert exchange_count(C.text_knn(documents, 0, 10, 512)) <= 6
    assert exchange_count(C.rocchio_confusion(documents, "lang", 512)) <= 8


def test_sliced_auc_partitions_rank_window_and_covers_all_slices(spark):
    docs = _toy_docs(spark, [
        # source A: separable (auc 1), source B: anti-separable (auc 0),
        # source C: single-class (auc NULL)
        (1, "good word", "en"), (2, "bad word", "fr"),
        (11, "bad word", "en"), (12, "good word", "fr"),
        (21, "same text", "en"), (22, "same again", "en"),
    ]).withColumn("source", F.expr(
        "case when doc_id < 10 then 'A' when doc_id < 20 then 'B' "
        "else 'C' end"))
    out = {r.slice: r for r in
           C.logreg_sliced_auc(docs, "source", dim=64).collect()}
    assert set(out) == {"A", "B", "C"}
    assert out["C"].auc is None and out["C"].n_neg == 0
    # A and B see the SAME globally-trained scorer from opposite sides:
    # their AUCs are complementary (1 and 0 when margins separate at all)
    if out["A"].auc is not None and out["B"].auc is not None:
        assert abs(out["A"].auc + out["B"].auc - 1.0) < 1e-12
    # the rank window must be slice-PARTITIONED (dropping the partition
    # spec would reintroduce a global single-partition rank — the exact
    # scale hazard this guards): the Window node's spec must name slice
    plan = formatted_plan(C.logreg_sliced_auc(docs, "source", dim=64))
    win_lines = [ln for ln in plan.splitlines()
                 if "windowspecdefinition" in ln.lower()]
    assert win_lines, "no window spec in plan"
    assert any("slice" in ln for ln in win_lines), (
        "rank window lost its slice partitioning"
    )


def test_temperature_mix_report_rates(spark):
    from cassandra_ttl_remover_spark.operators import curate

    rows = ([(i, f"t {i}", "big") for i in range(400)]
            + [(1000 + i, f"t {i}", "small") for i in range(100)])
    docs = _toy_docs(spark, [(i, t, l) for i, t, l in rows])
    r1 = {r.domain: r for r in
          curate.temperature_mix_report(docs, 1).collect()}
    # T=1: natural distribution — everything kept
    assert all(r.n_sampled == r.n_total for r in r1.values())
    r2 = {r.domain: r for r in
          curate.temperature_mix_report(docs, 2).collect()}
    # smallest domain kept in full; big domain kept at ~sqrt(100/400)=1/2
    assert r2["small"].n_sampled == 100
    assert abs(r2["big"].n_sampled - 200) < 40
    r4 = {r.domain: r for r in
          curate.temperature_mix_report(docs, 4).collect()}
    # T=4 pulls harder toward uniform: big keeps ~400*(1/4)^(3/4) ~ 141
    assert r4["small"].n_sampled == 100
    assert r4["big"].n_sampled < r2["big"].n_sampled


def test_calibration_bins_partition_the_corpus_and_brier_is_exact(spark):
    docs = _toy_docs(spark, [
        (i, "good sample" if i % 2 == 0 else "junk noise",
         "en" if i % 2 == 0 else "fr")
        for i in range(40)
    ])
    rows = C.logreg_calibration(docs, n_bins=4, dim=64).collect()
    assert sum(r.n for r in rows) == 40
    assert sum(r.n_pos for r in rows) == 20
    assert all(0 <= r.bin <= 3 for r in rows)
    # separable corpus: positives concentrate in the TOP bin
    top = max(rows, key=lambda r: r.bin)
    bot = min(rows, key=lambda r: r.bin)
    assert top.n_pos == top.n and bot.n_pos == 0
    # Brier numerator is exact: recompute from per-bin members on this
    # two-margin corpus (each bin is score-homogeneous here)
    for r in rows:
        mean_pq = r.sum_pq // r.n  # homogeneous -> exact
        want = (r.n_pos * (mean_pq - C.CAL_Q) ** 2
                + (r.n - r.n_pos) * mean_pq ** 2)
        assert r.brier_num == want


def test_model_curate_pipeline_stages_and_plan(spark, documents):
    """The composed FineWeb-shape pipeline: every stage must bite on the
    fixture (gopher drops the short tail, the gate keeps ~half, the mix
    subsamples the larger domains) and the composed plan must stay free
    of the two scale hazards: no empty-partitionBy window (the exact
    threshold runs through the histogram two-level scan) and every
    window spec carries a partition column."""
    import re

    from cassandra_ttl_remover_spark.operators.text import gopher_rules

    out = C.model_curate_corpus(documents, min_words=25, min_stop_hits=0)
    n_total = documents.count()
    n_gopher = (gopher_rules(documents, min_words=25, min_stop_hits=0)
                .filter("passes_gopher").count())
    rows = out.collect()
    assert 0 < n_gopher < n_total          # gopher bites
    assert 0 < len(rows) < n_gopher        # gate + mix + dedup bite
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    # the gate rule: every survivor's margin clears the threshold that
    # ceil(keep_frac * n) of the gated population cleared
    assert all(r.margin is not None for r in rows)

    plan = formatted_plan(out)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    unpart = [s for s in specs
              if not s.lstrip().startswith("_pid")]
    assert not unpart, f"unpartitioned window in composed plan: {unpart}"


def test_margin_threshold_frame_matches_exact_takeordered(spark, documents):
    """The histogram two-level threshold must equal margin_threshold's
    exact TakeOrdered value for every keep fraction."""
    w = C.collect_weights(C.logreg_train(documents))
    scored = C.score_documents(documents, w).withColumnRenamed(
        "margin", "m")
    for frac in (0.1, 0.5, 0.9):
        thr_frame = C.margin_threshold_frame(scored, frac, "m").collect()
        assert len(thr_frame) == 1
        exact = C.margin_threshold(documents, w, frac, exact=True)
        assert int(thr_frame[0].thr) == exact, f"frac={frac}"


def test_quality_signals_totality_and_agreement(spark, documents):
    """The matrix is total over the corpus (one row per doc, left joins
    never drop), and each signal column matches its own operator."""
    out = C.quality_signals(documents, min_words=25, min_stop_hits=0)
    rows = out.collect()
    assert len(rows) == documents.count()
    ids = [r.doc_id for r in rows]
    assert ids == sorted(ids)
    # margins agree with the standalone training pipeline
    w = C.collect_weights(C.logreg_train(documents))
    standalone = {r.doc_id: r.margin
                  for r in C.score_documents(documents, w).collect()}
    assert all(standalone[r.doc_id] == r.margin for r in rows)
