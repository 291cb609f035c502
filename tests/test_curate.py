"""Corpus-curation pipeline (operators/curate.py): stage gates compose and
the kept set is exactly the per-stage intersection."""

import pyspark.sql.functions as F

from cassandra_ttl_remover_spark.operators import curate, dedup, text


def test_curate_stages_compose(spark, documents):
    kept = curate.curate_corpus(spark, documents).cache()
    n_total, n_kept = documents.count(), kept.count()
    assert 0 < n_kept < n_total

    # every kept doc passes both gates
    assert kept.filter(F.col("quality") < 0.5).count() == 0
    assert kept.filter(F.col("pred_lang") != "en").count() == 0

    # no two kept docs share content (exact) or form a near-dup pair (fuzzy)
    ids = kept.select("doc_id")
    surviving = documents.join(ids, "doc_id", "left_semi")
    assert (
        dedup.exact_dedup(surviving).filter(F.col("n_copies") > 1).count() == 0
    )
    assert (
        dedup.ngram_jaccard_pairs(surviving, threshold=0.5).count() == 0
    )


def test_curate_lsh_path_runs_and_filters(spark, documents):
    # the 100 TB candidate generator: same gates, MinHash-LSH fuzzy stage
    kept = curate.curate_corpus(spark, documents, use_lsh=True)
    n_total, n_kept = documents.count(), kept.count()
    assert 0 < n_kept < n_total
    assert kept.filter(F.col("quality") < 0.5).count() == 0


def test_curate_drops_non_representatives_with_one_anti_join(spark, documents):
    # the fuzzy stage removes the component labels' non-representatives
    # from the gate survivors with one left-anti join; the kept set is
    # the survivors that neardup_dedup marks kept
    kept = curate.curate_corpus(spark, documents)
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 1, plan
    assert "LeftSemi" not in plan and "LeftOuter" not in plan, plan
    keep1 = curate.gated_exact_dedup(spark, documents)
    pairs = dedup.ngram_jaccard_pairs(keep1, 0.5, max_df=1000)
    want = {r.doc_id for r in dedup.neardup_dedup(
        keep1.select("doc_id"), pairs).filter("is_kept").collect()}
    got = {r.doc_id for r in kept.collect()}
    assert got == want and len(got) < keep1.count()


def test_gate_matches_langs_and_quality_as_given(spark, documents,
                                                 monkeypatch):
    # the gate is built from Columns, not SQL text: a language code with
    # a control character is matched exactly like any other, and an
    # infinite quality floor keeps nothing instead of failing to parse
    real_lang_id = text.lang_id

    def gated(lang):
        monkeypatch.setattr(text, "lang_id", lambda *a, **k: real_lang_id(
            *a, **k).withColumn("pred_lang", F.lit(lang)))
        return {r.doc_id for r in curate.gated_exact_dedup(
            spark, documents, langs=(lang,)).collect()}

    odd = gated("e\x01n")
    assert odd and odd == gated("en")
    monkeypatch.setattr(text, "lang_id", real_lang_id)
    assert curate.gated_exact_dedup(
        spark, documents, min_quality=float("inf")).count() == 0


def test_decontaminate_flags_overlap(spark, documents):
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    out = curate.decontaminate(documents, bench).cache()
    assert out.count() == documents.count()  # verdict for EVERY doc

    # a benchmark doc with >= 1 shingle is fully self-contaminated
    from cassandra_ttl_remover_spark.operators.dedup import shingle_frame
    bench_with_sh = shingle_frame(bench).select("doc_id").distinct()
    dirty_bench = out.join(bench_with_sh, "doc_id", "left_semi")
    assert dirty_bench.filter(F.col("is_clean")).count() == 0

    # clean docs have zero overlap, dirty docs at least one
    assert out.filter(F.col("is_clean") & (F.col("n_contaminated") > 0)).count() == 0
    assert out.filter(~F.col("is_clean") & (F.col("n_contaminated") == 0)).count() == 0

    # n_contaminated is bounded by the doc's own distinct shingle count
    sizes = (
        shingle_frame(documents)
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
    )
    assert (
        out.join(sizes, "doc_id")
        .filter(F.col("n_contaminated") > F.col("sz"))
        .count()
        == 0
    )


def test_decontaminate_shuffle_path_matches_broadcast(spark, documents):
    bench = documents.filter(F.col("doc_id") % 50 == 0)
    a = curate.decontaminate(documents, bench)
    b = curate.decontaminate(documents, bench, broadcast_benchmark=False,
                             hash_shingles=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_mix_decisions_deterministic_and_weighted(spark, documents):
    w = {"src0": 1.0, "src1": 0.0}
    dec = curate.mix_decisions(documents, w, default_rate=0.5).cache()
    assert dec.count() == documents.count()
    # rate 1.0 keeps everything, rate 0.0 keeps nothing
    assert dec.filter((F.col("source") == "src0") & ~F.col("is_sampled")).count() == 0
    assert dec.filter((F.col("source") == "src1") & F.col("is_sampled")).count() == 0
    # deterministic: a second evaluation gives the identical verdict set
    dec2 = curate.mix_decisions(documents, w, default_rate=0.5)
    assert dec.exceptAll(dec2).count() == 0
    # default-rate domains land near the target (hash-uniform, loose bound)
    rep = curate.mix_report(documents, w, default_rate=0.5)
    other = rep.filter(~F.col("source").isin("src0", "src1")).agg(
        F.sum("n_sampled").alias("k"), F.sum("n_total").alias("n")
    ).first()
    assert 0.3 <= other.k / other.n <= 0.7

    # mix_corpus keeps original columns and exactly the sampled ids
    mixed = curate.mix_corpus(documents, w, default_rate=0.5)
    assert mixed.columns == documents.columns
    kept_ids = {r.doc_id for r in mixed.select("doc_id").collect()}
    dec_ids = {r.doc_id for r in dec.filter("is_sampled").select("doc_id").collect()}
    assert kept_ids == dec_ids


def test_mix_decisions_is_scan_fused(spark, documents):
    # the decision frame must be a pure projection: no exchange in the plan
    dec = curate.mix_decisions(documents, {"src0": 0.5})
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quality_cutoff_exact_and_approx_agree(spark, documents):
    n = documents.count()
    exact = curate.quality_cutoff(documents, 0.5, exact=True).cache()
    k = exact.count()
    assert k == -(-n // 2)  # ceil(n/2)
    # the cut keeps the HIGH end: min kept quality >= max dropped quality
    from cassandra_ttl_remover_spark.operators.text import quality_score
    scored = quality_score(documents).select("doc_id", "quality")
    dropped = scored.join(exact.select("doc_id"), "doc_id", "left_anti")
    lo_kept = exact.agg(F.min("quality")).first()[0]
    hi_drop = dropped.agg(F.max("quality")).first()[0]
    assert hi_drop is None or hi_drop <= lo_kept

    # approx path keeps a similar-sized, threshold-consistent set
    approx = curate.quality_cutoff(documents, 0.5).cache()
    ka = approx.count()
    assert abs(ka - 0.5 * n) <= 0.1 * n
    thr = approx.agg(F.min("quality")).first()[0]
    # nothing below the achieved threshold is kept, everything at/above is
    assert scored.filter(F.col("quality") >= thr).count() == ka


def test_quality_cutoff_approx_plan_has_no_global_sort(spark, documents):
    kept = curate.quality_cutoff(documents, 0.5)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # only exchanges allowed: the singleton threshold aggregation + fan_out
    assert "rangepartitioning" not in plan.lower()


def test_sample_fixed_exact_size_and_determinism(spark, documents):
    s = curate.sample_fixed(documents, 50).cache()
    assert s.count() == 50
    s2 = curate.sample_fixed(documents, 50)
    assert s.exceptAll(s2).count() == 0
    # nested property: the 20-sample is a prefix of the 50-sample
    s20 = curate.sample_fixed(documents, 20)
    assert s20.join(s, "doc_id", "left_anti").count() == 0
    # top-k plan, not a global sort
    plan = curate.sample_fixed(documents, 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_pack_sequences_bins_respect_budget(spark, documents):
    packed = curate.pack_sequences(documents, budget=500, num_shards=4).cache()
    assert packed.count() == documents.count()
    assert packed.select("shard").distinct().count() == 4
    # within a shard, bins are non-decreasing in id order and the tokens
    # BEFORE each doc equal bin*budget + in-bin offset in [0, budget)
    from pyspark.sql import Window as W
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    with_prev = packed.withColumn("before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    bad = with_prev.filter(F.expr("before div 500") != F.col("bin"))
    assert bad.count() == 0
    # single-shard form is strictly sequential: bin 0 starts at doc with
    # the smallest id
    seq = curate.pack_sequences(documents, budget=500, num_shards=1)
    first = seq.orderBy("doc_id").first()
    assert first.bin == 0 and first.shard == 0


def test_normalize_text_idempotent(spark, documents):
    from cassandra_ttl_remover_spark.operators.text import normalize_text
    n1 = normalize_text(documents)
    # normalizing an already-normalized corpus is a fixed point
    renorm = normalize_text(
        n1.select("doc_id", F.col("norm_text").alias("text")))
    diff = n1.join(renorm.withColumnRenamed("norm_text", "again"), "doc_id").filter(
        F.col("norm_text") != F.col("again")
    )
    assert diff.count() == 0
    # no double spaces / leading / trailing whitespace survive
    assert n1.filter(F.col("norm_text").contains("  ")).count() == 0
    assert n1.filter(F.col("norm_text") != F.trim(F.col("norm_text"))).count() == 0


def test_sample_per_group_caps_each_group(spark, documents):
    s = curate.sample_per_group(documents, 7).cache()
    per = s.groupBy("source").count()
    assert per.filter(F.col("count") > 7).count() == 0
    # every group with >= 7 docs contributes exactly 7
    totals = documents.groupBy("source").count().withColumnRenamed("count", "n")
    short = totals.join(per.withColumnRenamed("count", "k"), "source")
    assert short.filter((F.col("n") >= 7) & (F.col("k") != 7)).count() == 0
    # consistency with the global fixed sample rule: within a group, the
    # chosen ids are the group's smallest sample keys
    glob = curate.sample_fixed(documents, documents.count())  # all, keyed
    joined = s.join(glob.withColumnRenamed("sample_key", "gk"), "doc_id")
    assert joined.filter(F.col("sample_key") != F.col("gk")).count() == 0


def test_operator_edge_cases(spark, documents):
    # empty benchmark -> everything clean
    empty_bench = documents.filter("doc_id < 0")
    dec = curate.decontaminate(documents, empty_bench)
    assert dec.filter(~F.col("is_clean")).count() == 0
    # no weights -> default rate drives everything
    all_dec = curate.mix_decisions(documents, {}, default_rate=1.0)
    assert all_dec.filter(~F.col("is_sampled")).count() == 0
    none_dec = curate.mix_decisions(documents, {}, default_rate=0.0)
    assert none_dec.filter(F.col("is_sampled")).count() == 0
    # k beyond corpus size -> whole corpus, no error
    assert curate.sample_fixed(documents, 10**6).count() == documents.count()
    # budget smaller than any doc -> each doc still gets exactly one bin
    packed = curate.pack_sequences(documents, budget=1)
    assert packed.count() == documents.count()
    assert packed.filter("bin < 0").count() == 0


def test_cluster_safe_split_keeps_clusters_together(spark):
    from cassandra_ttl_remover_spark.operators.curate import cluster_safe_split

    # many clusters (pairs chain i <-> i+1 within groups of 3) so some
    # would straddle a per-doc split; the cluster-keyed split must not
    ids = spark.createDataFrame([(i,) for i in range(90)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(89) if i % 3 != 2], "a long, b long"
    )
    out = cluster_safe_split(ids, pairs).collect()
    by_component = {}
    for r in out:
        by_component.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in by_component.values()), (
        "a near-dup cluster straddles splits"
    )
    assert len({r.split for r in out}) > 1  # multiple splits actually used


def test_shuffle_deterministic_invariants(spark, documents):
    """Seeded shuffle: (shard, pos) is a pure function of (seed, id) —
    identical under different input partitioning; positions are dense
    1..n per shard; a different seed re-deals the order."""
    from cassandra_ttl_remover_spark.operators.curate import shuffle_deterministic

    a = {(r.doc_id): (r.shard, r.pos)
         for r in shuffle_deterministic(documents, n_shards=8, seed=7).collect()}
    b = {(r.doc_id): (r.shard, r.pos)
         for r in shuffle_deterministic(
             documents.repartition(17), n_shards=8, seed=7).collect()}
    assert a == b
    # dense positions per shard
    by_shard = {}
    for (shard, pos) in a.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    c = {(r.doc_id): (r.shard, r.pos)
         for r in shuffle_deterministic(documents, n_shards=8, seed=8).collect()}
    assert a != c


def test_pareto_frontier_dominance_and_ties(spark):
    from cassandra_ttl_remover_spark.operators.curate import pareto_frontier

    rows = [
        (1, 10, 10),  # frontier
        (2, 10, 10),  # duplicate point: ties the frontier, kept
        (3, 10, 9),   # dominated by 1 (equal x, lower y)
        (4, 12, 5),   # frontier (best x among y<=5... no: nothing beats it)
        (5, 11, 5),   # dominated by 4
        (6, 5, 20),   # frontier (best y)
        (7, 4, 20),   # dominated by 6
    ]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    for pf in (True, False):
        got = sorted(r.id for r in
                     pareto_frontier(df, "x", "y", "id", prefilter=pf)
                     .collect())
        assert got == [1, 2, 4, 6], (pf, got)


def test_pareto_frontier_partitioning_independent(spark):
    """The prefilter keys on physical partitions; the result must not."""
    from cassandra_ttl_remover_spark.operators.curate import pareto_frontier

    import random
    rnd = random.Random(7)
    rows = [(i, rnd.randrange(100), rnd.randrange(100)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    a = sorted((r.id, r.x, r.y) for r in
               pareto_frontier(df.repartition(3), "x", "y", "id").collect())
    b = sorted((r.id, r.x, r.y) for r in
               pareto_frontier(df.repartition(17), "x", "y", "id").collect())
    # brute-force reference
    def dominated(p, q):
        return q[1] >= p[1] and q[2] >= p[2] and (q[1] > p[1] or q[2] > p[2])
    want = sorted(p for p in rows
                  if not any(dominated(p, q) for q in rows))
    assert a == b == want


def test_pps_systematic_properties(spark):
    """Hand lattice: weights [10,10,10,10,10] (total 50), n=5 -> stride
    10, offset 5 -> points 5,15,25,35,45: exactly one per doc. A huge
    doc (weight > stride) is picked multiple times; total picks == n
    always; zero weight never picked."""
    from cassandra_ttl_remover_spark.operators.curate import (
        pps_systematic_sample,
    )

    docs = spark.createDataFrame(
        [(i, "x" * 10) for i in range(5)], "doc_id long, text string"
    ).withColumn("n_chars", __import__("pyspark.sql.functions",
                                       fromlist=["length"]).length("text"))
    got = pps_systematic_sample(docs, n=5).collect()
    assert [(r.doc_id, r.n_picks) for r in got] == [(i, 1) for i in range(5)]

    import pyspark.sql.functions as F
    big = spark.createDataFrame(
        [(1, 5), (2, 90), (3, 5)], "doc_id long, n_chars long"
    )
    got2 = {r.doc_id: r.n_picks for r in
            pps_systematic_sample(big, n=10,
                                  weight_expr="n_chars").collect()}
    assert sum(got2.values()) == 10
    assert got2[2] >= 8          # the heavy doc absorbs most points
    # proportionality: expected picks ~ weight * n / total
    assert got2[2] == 9          # points at 5,15,...,95: doc2 covers (5,95]


def test_rendezvous_only_moves_to_new_shard(spark, documents):
    """HRW invariant: adding shard N, every key either stays put or moves
    TO shard N -- so sum(n_moved) equals the count won by the new shard."""
    from cassandra_ttl_remover_spark.operators.curate import (
        rendezvous_shard_report,
    )

    docs = documents.limit(200)
    rep = rendezvous_shard_report(docs, n_shards=8).collect()
    assert sum(r.n_keys for r in rep) == 200
    moved = sum(r.n_moved for r in rep)
    # expected migration ~ n/(N+1); allow generous slack, but it must be
    # far below a mod-N reshuffle (which would move ~7/8 of keys)
    assert 0 < moved < 200 * 0.5
    rep9 = {r.shard: r.n_keys
            for r in rendezvous_shard_report(docs, n_shards=9).collect()}
    # keys that moved under 8->9 are exactly the new shard's winners
    assert rep9.get(8, 0) == moved


def test_budget_allocation_waterfilling_invariants(spark, documents):
    from cassandra_ttl_remover_spark.operators.curate import (
        budget_allocation,
    )

    docs = documents
    total_cap = sum(
        r.cap for r in budget_allocation(docs, budget=10**12).collect()
    )
    # budget >= total capacity: everything saturates, allocation == cap
    rows = budget_allocation(docs, budget=total_cap).collect()
    assert all(r.saturated and r.allocation == r.cap for r in rows)
    # tight budget: never exceeds it, never upsamples, weights respected
    rows = budget_allocation(docs, budget=50_000,
                             weights={"src0": 3}).collect()
    assert sum(r.allocation for r in rows) <= 50_000
    assert all(0 <= r.allocation <= r.cap for r in rows)
    unc = [r for r in rows if not r.saturated]
    if len(unc) >= 2:
        lvls = {round(r.allocation / r.w) for r in unc}
        assert max(lvls) - min(lvls) <= 1, "unsaturated level must be shared"
    # degenerate: budget larger than everything but weights tiny — total
    # allocated still <= budget and saturated set is a sort prefix
    rows = budget_allocation(docs, budget=60_000).collect()
    by_ratio = sorted(rows, key=lambda r: (r.cap / r.w, r.source))
    flags = [r.saturated for r in by_ratio]
    assert flags == sorted(flags, reverse=True), "saturated must be a prefix"


def test_apply_budget_sample_is_deterministic_and_tracks_alloc(
        spark, documents):
    from cassandra_ttl_remover_spark.operators.curate import (
        apply_budget_sample,
        budget_allocation,
    )

    al = budget_allocation(documents, budget=50_000)
    a = apply_budget_sample(documents, al).filter("is_sampled")
    b = apply_budget_sample(documents, al).filter("is_sampled")
    assert a.select("doc_id").exceptAll(b.select("doc_id")).count() == 0
    assert a.count() == b.count() > 0
    # saturated sources keep every document
    sat = {r.source for r in al.collect() if r.saturated}
    if sat:
        src = sorted(sat)[0]
        assert (a.filter(f"source = '{src}'").count()
                == documents.filter(f"source = '{src}'").count())
    # a source ABSENT from the allocation is excluded, never NULL
    partial = al.filter("source <> 'src0'")
    out = apply_budget_sample(documents, partial)
    assert out.filter("is_sampled IS NULL").count() == 0
    assert out.filter("source = 'src0' AND is_sampled").count() == 0


def test_budget_sample_null_id_kept_out_unless_saturated(spark):
    """A NULL doc id has no deterministic hash: unsaturated sources drop
    it (matching the oracle's NULL-propagating murmur3), saturated
    sources keep everything — saturation needs no hash."""
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark.operators.curate import (
        apply_budget_sample, budget_allocation,
    )

    docs = spark.createDataFrame(
        [(1, "s1", 100), (None, "s1", 100), (2, "s2", 100),
         (None, "s2", 100)],
        "doc_id long, source string, n_chars long",
    )
    # s1 saturated (huge budget via weights), s2 scarce
    al = budget_allocation(docs, budget=250, weights={"s1": 1000})
    sat = {r.source: r.saturated for r in al.collect()}
    assert sat["s1"] and not sat["s2"]
    out = {(r.source, r.doc_id is None): r.is_sampled
           for r in apply_budget_sample(docs, al).collect()}
    assert out[("s1", True)] is True      # saturated keeps NULL id
    assert out[("s2", True)] is False     # unsaturated drops NULL id


def test_dsir_importance_ranks_target_like_docs(spark):
    """Docs sharing the target's vocabulary must outscore docs that share
    none of it; featureless docs score 0; the frame is total over raw."""
    target = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps high") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox"),          # pure target vocab
            (2, "zzz qqq vvv kkk"),              # disjoint vocab
            (3, "the quick zzz qqq"),            # mixed
            (4, ""),                             # featureless
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            curate.dsir_importance(raw, target).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].importance_permille > rows[3].importance_permille
    assert rows[3].importance_permille > rows[2].importance_permille
    assert rows[4].importance_permille == 0 and rows[4].n_features == 0
    # masses are exact integer sufficient statistics
    assert rows[1].n_features == 7  # 4 unigrams + 3 bigrams
    assert rows[1].target_mass > rows[1].raw_mass  # target-aligned doc


def test_dsir_bucket_conv_equivalence(spark):
    """The conv-based fast bucket hash (one md5 per token) must equal the
    original three-nibble instr form for every input — the two read the
    same md5 hex prefix as a base-16 number. Guards the r12 optimization
    that removed the per-nibble md5 recomputation inside transform()
    lambdas (interpreted, no common-subexpression elimination)."""
    from cassandra_ttl_remover_spark.operators.curate import (
        _DSIR_NIBBLES, _dsir_bucket_spark)

    ref = ("pmod("
           + " + ".join(
               f"(instr('{_DSIR_NIBBLES}', substr(md5(w), {i}, 1)) - 1) * {m}"
               for i, m in ((1, 256), (2, 16), (3, 1)))
           + ", {b})")
    df = spark.range(20000).selectExpr(
        "cast(id as string) as w").unionAll(
        spark.createDataFrame(
            [("",), ("a",), ("unicode-ßøü",), ("two words",)], "w string"))
    for b in (4096, 64, 7):
        bad = df.selectExpr(
            f"{_dsir_bucket_spark('w', b)} as fast",
            ref.format(b=b) + " as ref",
        ).filter("fast <> ref OR fast IS NULL").count()
        assert bad == 0


def test_dsir_importance_partitioning_independent(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma w{i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    tgt = docs.filter("doc_id % 5 = 0")
    a = sorted(map(tuple, curate.dsir_importance(docs, tgt).collect()))
    b = sorted(map(tuple, curate.dsir_importance(
        docs.repartition(13), tgt.repartition(3)).collect()))
    assert a == b


def test_lm_perplexity_flags_unfluent_text(spark):
    """CCNet stance: docs whose bigrams the reference LM has seen score
    LOW surprise; gibberish bigrams score high; repeated training docs
    score lowest; < 2-token docs are unscorable (NULL, n_bigrams 0)."""
    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(20)]          # the clean reference corpus
    rows += [
        (100, "the quick brown fox"),     # seen bigrams only
        (101, "zzz qqq vvv kkk www"),     # no seen bigram
        (102, "the quick zzz qqq"),       # mixed
        (103, "single"),                  # unscorable
        (104, ""),                        # unscorable
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           curate.lm_perplexity(docs, "doc_id < 100").collect()}
    assert len(out) == 25  # total over the input frame
    assert out[100].ppl_permille < out[102].ppl_permille
    assert out[102].ppl_permille < out[101].ppl_permille
    for d in (103, 104):
        assert out[d].n_bigrams == 0 and out[d].sum_invp == 0
        assert out[d].ppl_permille is None
    # hand check: train = 20 copies of 8 bigrams, every seen pair has
    # c(u,v)=20; context "the" appears twice per copy (the-quick,
    # the-lazy) -> c=40, contexts "quick"/"brown" once -> c=20. Doc
    # 100's terms: ((40+4096)*1000)//21 + 2*((20+4096)*1000)//21
    assert out[100].n_bigrams == 3
    want = ((40 + 4096) * 1000) // 21 + 2 * (((20 + 4096) * 1000) // 21)
    assert out[100].sum_invp == want


def test_lm_perplexity_partitioning_independent(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma w{i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple,
                   curate.lm_perplexity(docs, "doc_id % 5 = 0").collect()))
    b = sorted(map(tuple, curate.lm_perplexity(
        docs.repartition(13), "doc_id % 5 = 0").collect()))
    assert a == b


def test_lm_perplexity_text_never_shuffles(spark, documents):
    """The corpus text must be consumed by the projection stage: no
    ALGORITHMIC exchange (ENSURE_REQUIREMENTS — joins/aggregations) may
    carry the text column — only the 8-byte bucket ints and the doc id
    shuffle. The one permitted exception is fan_out's explicit
    REPARTITION_BY_NUM parallelism floor ahead of the featurize (r12):
    it moves text locally where the source is a single file split, and
    is a planning-time no-op at scale where the scan already yields
    more splits than cores — the algorithmic plan still never ships
    text."""
    from cassandra_ttl_remover_spark.plans import formatted_plan

    plan = formatted_plan(curate.lm_perplexity(documents, "lang = 'en'"))
    import re
    for m in re.finditer(r"^\(\d+\) Exchange\n((?:.+\n)+?)\n",
                         plan, re.MULTILINE):
        if "REPARTITION_BY_NUM" in m.group(1):
            continue
        assert "text#" not in m.group(1), "text column crossed an exchange"


def test_lm_perplexity_buckets_tertiles_and_unscored(spark):
    """Exact tertile cuts: 9 scored docs split 3/3/3 by ppl order; the
    unscorable doc lands in 'unscored'; cut values are the exact order
    statistics (smallest ppl reaching ceil(k*n/3) cumulative docs)."""
    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(20)]                      # reference corpus
    # three fluency levels x 3 docs each
    rows += [(100 + i, "the quick brown fox") for i in range(3)]
    rows += [(200 + i, "the quick zzz qqq") for i in range(3)]
    rows += [(300 + i, "zzz qqq vvv kkk") for i in range(3)]
    rows += [(400, "word")]                          # unscorable
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {r.doc_id: r for r in
            curate.lm_perplexity_buckets(docs, "doc_id < 100").collect()}
    assert full[400].ppl_bucket == "unscored"
    assert full[400].ppl_permille is None
    # the training docs (lowest ppl) are all head
    assert all(full[i].ppl_bucket == "head" for i in range(20))
    # bucket order follows ppl order across the three fluency levels
    order = {"head": 0, "middle": 1, "tail": 2}
    assert (order[full[100].ppl_bucket] <= order[full[200].ppl_bucket]
            <= order[full[300].ppl_bucket])
    assert full[300].ppl_bucket == "tail"  # the noisiest level
    # the exact cut rule, recomputed first-principles: scored n=29;
    # cumulative at the training ppl is 20 >= ceil(29/3)=10 AND
    # >= ceil(58/3)=20, so BOTH tertile cuts land on the training ppl —
    # every non-training level is 'tail' and 'middle' is empty
    assert all(full[100 + i].ppl_bucket == "tail" for i in range(3))
    assert all(full[200 + i].ppl_bucket == "tail" for i in range(3))
    from collections import Counter
    c = Counter(r.ppl_bucket for r in full.values())
    assert c == {"head": 20, "tail": 9, "unscored": 1}


def test_lm_buckets_plan_has_no_unpartitioned_window(spark, documents):
    from cassandra_ttl_remover_spark.plans import formatted_plan
    import re

    plan = formatted_plan(
        curate.lm_perplexity_buckets(documents, "lang = 'en'"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert all(s.lstrip().startswith("_pid") for s in specs), specs


def test_lm_domain_report_counts_and_means(spark):
    rows = [(i, "the quick brown fox jumps", "a") for i in range(4)]
    rows += [(10, "the quick brown fox", "b"), (11, "x", "b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.domain: r for r in
           curate.lm_domain_report(docs, "lang = 'a'").collect()}
    assert out["a"].n_docs == 4 and out["a"].n_scored == 4
    assert out["b"].n_docs == 2 and out["b"].n_scored == 1
    assert out["b"].mean_ppl_permille == out["b"].sum_ppl
    # domain a: 4 identical docs -> mean == each doc's ppl
    assert out["a"].mean_ppl_permille * 4 == out["a"].sum_ppl


def test_sbo_backoff_levels_fire_in_order(spark):
    """Each backoff level must fire exactly when its evidence exists,
    with the 2/5-per-level penalty applied as exact integers."""
    train = [(i, "a b c d") for i in range(10)]   # trigrams: abc, bcd
    probes = [
        (100, "a b c"),    # seen trigram -> level 3
        (101, "x b c"),    # unseen trigram, seen bigram (b,c) -> level 2
        (102, "x y c"),    # unseen bigram (y,c), seen unigram c -> level 1
        (103, "x y z"),    # nothing seen -> level 1 with D=0
    ]
    docs = spark.createDataFrame(train + probes,
                                 "doc_id long, text string")
    out = {r.doc_id: r for r in
           curate.sbo_perplexity(docs, "doc_id < 100").collect()}
    B, S = 4096, 1000
    # model: N3(abc)=N3(bcd)=10; A(ab)=A(bc)=10; B2(bc)=B2(cd)=10;
    # C1(b)=C1(c)=10; D(c)=D(d)=10; T=20
    assert (out[100].n_hits3, out[100].n_hits2) == (1, 0)
    assert out[100].sum_invp == (S * 10) // 10
    assert (out[101].n_hits3, out[101].n_hits2) == (0, 1)
    assert out[101].sum_invp == (5 * S * 10) // (2 * 10)
    assert (out[102].n_hits3, out[102].n_hits2) == (0, 0)
    assert out[102].sum_invp == (25 * S * (20 + B)) // (4 * (10 + 1))
    assert out[103].sum_invp == (25 * S * (20 + B)) // (4 * (0 + 1))
    # monotone: deeper evidence scores lower surprise
    assert (out[100].sum_invp < out[101].sum_invp
            < out[102].sum_invp < out[103].sum_invp)
    # training docs: every trigram hits level 3
    assert all(out.get(i) is None or True for i in range(10))
    full = {r.doc_id: r for r in
            curate.sbo_perplexity(docs, "doc_id < 100").collect()}
    assert all(full[i].n_hits3 == full[i].n_trigrams for i in range(10))


def test_sbo_unscorable_and_partitioning(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7} gamma w{i % 3}") for i in range(40)]
        + [(100, "two words"), (101, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           curate.sbo_perplexity(docs, "doc_id % 5 = 0").collect()}
    assert out[100].sbo_permille is None and out[100].n_trigrams == 0
    assert out[101].sbo_permille is None
    a = sorted(map(tuple, curate.sbo_perplexity(
        docs, "doc_id % 5 = 0").collect()))
    b = sorted(map(tuple, curate.sbo_perplexity(
        docs.repartition(13), "doc_id % 5 = 0").collect()))
    assert a == b


def test_lm_domain_matrix_diagonal_is_row_minimum(spark):
    """Each domain's own data must be least surprising under its own
    model; disjoint-vocabulary domains are maximally surprising under
    each other (every bigram unseen -> the add-1 floor term)."""
    rows = [(i, "aa bb cc dd aa bb", "x") for i in range(10)]
    rows += [(100 + i, "pp qq rr ss pp qq", "y") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r.model_domain, r.data_domain): r
           for r in curate.lm_domain_matrix(docs).collect()}
    assert set(out) == {("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")}
    for m in ("x", "y"):
        others = [v.cross_permille for (mm, d), v in out.items()
                  if mm == m and d != m]
        assert all(out[(m, m)].cross_permille < o for o in others)
    # disjoint vocab: every cross bigram backs off to the add-1 floor
    # (c_u present for NO u of the other domain -> (0+B)*scale div 1)
    assert out[("x", "y")].cross_permille == 4096 * 1000
    # n_bigrams = per-domain bigram volume (10 docs x 5 bigrams)
    assert out[("x", "x")].n_bigrams == 50


def test_lm_domain_matrix_corpus_read_once(spark, documents):
    """The matrix must be built from ONE corpus featurize: the final
    plan reads the checkpointed per-domain histogram (dictionary-sized),
    never the documents scan twice."""
    from cassandra_ttl_remover_spark.plans import formatted_plan

    plan = formatted_plan(curate.lm_domain_matrix(documents))
    # the corpus scan is cut off by the histogram checkpoint: only
    # ExistingRDD scans (the checkpoint) appear, no parquet re-scan
    assert "Scan parquet" not in plan


def test_doremi_weights_hard_domain_earns_weight(spark):
    """The MW update's direction: a domain whose data stays surprising
    under the OTHER domains' models (disjoint vocabulary) must earn
    more than its uniform share; iterates stay integer and bounded."""
    rows = [(i, "aa bb cc dd aa bb cc", "x") for i in range(20)]
    rows += [(100 + i, "aa bb cc dd aa bb cc", "y") for i in range(20)]
    rows += [(200 + i, "pp qq rr ss tt pp qq", "z") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in curate.doremi_weights(docs).collect()}
    assert set(out) == {"x", "y", "z"}
    # z's vocabulary is disjoint from x/y -> maximal excess, max weight
    assert out["z"].excess_step == 1000
    assert out["z"].weight_final > 1_000_000 // 3
    assert out["z"].weight_final == max(r.weight_final for r in out.values())
    # x and y are mutual twins: identical excess, identical weights
    assert out["x"].weight_final == out["y"].weight_final
    # weights renormalize each round: the final iterate sums to ~scale
    # (exact up to |domains| units of div truncation)
    s = sum(r.weight_final for r in out.values())
    assert 1_000_000 - 3 * 5 <= s <= 1_000_000
    # smoothing floor: no domain collapses below c * uniform
    floor = (1 * (1_000_000 // 3)) // 5
    assert all(r.weight_final >= floor for r in out.values())
    # weight_avg is the across-iterate mean, between uniform and final
    assert out["z"].weight_avg <= out["z"].weight_final


def test_doremi_weights_single_domain_is_uniform(spark):
    """|domains| = 1: zero excess by definition, weight = the whole
    scale — no div-by-zero on the (n - 1) mean or the max-excess step."""
    docs = spark.createDataFrame(
        [(i, "aa bb cc dd", "only") for i in range(5)],
        "doc_id long, text string, lang string")
    rows = curate.doremi_weights(docs).collect()
    assert len(rows) == 1
    assert rows[0].excess_permille == 0 and rows[0].excess_step == 0
    assert rows[0].weight_final == 1_000_000
    assert rows[0].weight_avg == 1_000_000


def test_doremi_weights_oracle_parity_inline(spark, documents):
    """Spark vs DuckDB on the REAL fixture table — the driver's exact
    comparison, inline (the unrolled-CTE oracle must reproduce the
    driver-loop iterates bit for bit)."""
    import duckdb

    from tests.conftest import SF_DIR
    from tests.oracle_parity import duck_connection, compare

    con = duck_connection(SF_DIR)
    ok, msg = compare(curate.doremi_weights(documents, domain_col="lang"),
                      curate.doremi_weights_oracle_sql(domain_col="lang"),
                      con)
    assert ok, msg


def test_doremi_resample_applies_learned_mixture(spark):
    """The data step of the DoReMi loop: output domain sizes are the
    exact integer waterline application of the learned weights, with
    no upsampling, and the audit row proves the selection."""
    rows = [(i, "aa bb cc dd aa bb cc", "x") for i in range(30)]
    rows += [(100 + i, "aa bb cc dd aa bb cc", "y") for i in range(30)]
    rows += [(200 + i, "pp qq rr ss tt pp qq", "z") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = {r.lang: r.weight_avg for r in curate.doremi_weights(docs).collect()}
    out = {r.lang: r for r in curate.doremi_resample(docs).collect()}
    n = {"x": 30, "y": 30, "z": 12}
    t = min((n[d] * 1_000_000) // w[d] for d in w)
    for d in out:
        want_k = min(n[d], (w[d] * t) // 1_000_000)
        assert out[d].k_target == want_k
        assert out[d].n_kept == want_k          # selection fills the target
        assert out[d].n_kept <= out[d].n_avail  # never upsample
        assert out[d].weight_avg == w[d]
    # the binding domain (z: scarce AND heavily weighted) pins the
    # waterline — it keeps all-but-truncation of its docs
    assert out["z"].n_kept >= n["z"] - 1
    # deterministic end to end: a second run selects the same ids
    again = {r.lang: r.sum_kept_ids
             for r in curate.doremi_resample(docs).collect()}
    assert again == {d: out[d].sum_kept_ids for d in out}


def test_doremi_resample_oracle_parity_inline(spark, documents):
    """Driver-exact comparison on the real fixture — the nested
    materialized-CTE oracle must reproduce weights AND selection."""
    from tests.conftest import SF_DIR
    from tests.oracle_parity import duck_connection, compare

    ok, msg = compare(curate.doremi_resample(documents, domain_col="lang"),
                      curate.doremi_resample_oracle_sql(domain_col="lang"),
                      duck_connection(SF_DIR))
    assert ok, msg


def test_doremi_edges_empty_weights_and_null_domain(spark):
    """Review-found edges: a corpus with no scorable domain (every doc
    under 2 words) yields an EMPTY audit frame like the oracle, never a
    min()-of-empty crash; NULL domains (legal data — the matrix emits
    NULL-domain rows) are EXCLUDED from the mixture on both engines
    (r11 ADVICE: the Python excess mean previously counted the NULL
    model while the oracle's `m <> dd` dropped it, and the resample's
    equi-joins gave the NULL domain a self-contradicting audit row
    k_target > 0 / n_kept = 0)."""
    tiny = spark.createDataFrame([(1, "one", "x"), (2, "two", "y")],
                                 "doc_id long, text string, lang string")
    assert curate.doremi_resample(tiny).count() == 0
    assert curate.doremi_weights(tiny).count() == 0

    withnull = spark.createDataFrame(
        [(i, "aa bb cc dd aa", "x") for i in range(6)]
        + [(10 + i, "pp qq rr ss pp", None) for i in range(6)]
        + [(20 + i, "kk ll mm nn kk", "y") for i in range(6)],
        "doc_id long, text string, lang string")
    w = curate.doremi_weights(withnull).collect()
    assert {r.lang for r in w} == {"x", "y"}
    assert all(r.weight_final > 0 for r in w)
    # the resample audit carries no NULL row and every row is
    # self-consistent: the selection actually kept what it targeted
    out = curate.doremi_resample(withnull).collect()
    assert {r.lang for r in out} == {"x", "y"}
    assert all(r.n_kept == r.k_target for r in out)
    assert all(r.sum_kept_ids > 0 for r in out if r.k_target > 0)


def test_doremi_null_domain_oracle_parity(spark, tmp_path):
    """ADVICE-mandated: weights AND resample hash-match DuckDB on a
    fixture WITH a NULL domain — the divergence was latent only because
    the shipped fixture has no NULL lang."""
    import duckdb

    from tests.oracle_parity import compare

    rows = (
        [(i, "aa bb cc dd aa bb", "x") for i in range(8)]
        + [(10 + i, "pp qq rr ss pp qq", None) for i in range(5)]
        + [(20 + i, "kk ll mm nn kk ll", "y") for i in range(7)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')")
    ok, msg = compare(curate.doremi_weights(docs, domain_col="lang"),
                      curate.doremi_weights_oracle_sql(domain_col="lang"),
                      con)
    assert ok, f"weights: {msg}"
    ok, msg = compare(curate.doremi_resample(docs, domain_col="lang"),
                      curate.doremi_resample_oracle_sql(domain_col="lang"),
                      con)
    assert ok, f"resample: {msg}"


def test_kn_score_hand_computed_tiny_corpus(spark):
    """Every term of the KN surrogate recomputed by hand in Python on a
    corpus small enough to enumerate — pins the discount, the
    continuation backoff, the unseen-context branch and the cap."""
    import hashlib

    buckets, scale = 4096, 1000

    def bk(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:3], 16) % buckets

    train = ["aa bb cc", "aa bb dd"]
    probe = "aa bb zz qq"     # seen pair, seen ctx/unseen pair, unseen ctx
    docs = spark.createDataFrame(
        [(0, train[0], "t"), (1, train[1], "t"), (2, probe, "p")],
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in
           curate.kn_perplexity(docs, "lang = 't'").collect()}

    # model: bigrams of the two training docs
    ph = {}
    for t in train:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            ph[(bk(a), bk(b))] = ph.get((bk(a), bk(b)), 0) + 1
    cu, n1f, n1b = {}, {}, {}
    for (u, v), c in ph.items():
        cu[u] = cu.get(u, 0) + c
        n1f[u] = n1f.get(u, 0) + 1
        n1b[v] = n1b.get(v, 0) + 1
    T = len(ph)
    cap = 4 * (T + buckets) * scale

    def inv(u, v):
        if u in cu:
            num = (T * max(4 * ph.get((u, v), 0) - 3, 0)
                   + 3 * n1f[u] * n1b.get(v, 0))
            return min((4 * cu[u] * T * scale) // max(num, 1), cap)
        return min((T * scale) // max(n1b.get(v, 0), 1), cap)

    ws = probe.split()
    want = [inv(bk(a), bk(b)) for a, b in zip(ws, ws[1:])]
    assert out[2].n_bigrams == 3
    assert out[2].sum_invp == sum(want)
    assert out[2].kn_permille == sum(want) // 3
    # the unseen-CONTEXT bigram (zz -> qq) scores the pure continuation
    # distribution's floor: T * scale (uniform over the T types — the
    # model has no context evidence, so surprise is bounded by the
    # type inventory, not the cap, which only binds seen contexts)
    assert want[2] == T * scale
    # training docs score far lower than the probe
    assert out[0].kn_permille < out[2].kn_permille


def test_kn_continuation_count_signature(spark):
    """KN's defining property vs raw-frequency smoothing: a word that
    is FREQUENT but only ever follows one context ("Francisco") gets a
    LOW continuation weight — novel-context use of it must score more
    surprising than a same-frequency word seen in many contexts."""
    rows = []
    # "francisco" appears 12 times, always after "san"
    for i in range(12):
        rows.append((i, "san francisco is a city", "t"))
    # "road" appears 12 times after 12 DIFFERENT contexts
    ctx = "long old new wide open dusty main broad quiet busy north south"
    for j, c in enumerate(ctx.split()):
        rows.append((100 + j, f"the {c} road is a path", "t"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model = curate.lm_model(docs.filter("lang = 't'"))
    probe = spark.createDataFrame(
        [(900, "valley francisco"), (901, "valley road")],
        "doc_id long, text string")
    got = {r.doc_id: r.kn_permille
           for r in curate.kn_score(probe, model).collect()}
    # same raw frequency, but road's continuation count is 12x higher
    assert got[900] > got[901]


def test_kn_unscorable_docs_and_empty_model(spark):
    docs = spark.createDataFrame(
        [(0, "aa bb cc dd", "t"), (1, "solo", "p"), (2, None, "p")],
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in
           curate.kn_perplexity(docs, "lang = 't'").collect()}
    assert out[1].n_bigrams == 0 and out[1].kn_permille is None
    assert out[2].n_bigrams == 0 and out[2].kn_permille is None
    # empty training subset: T = 0, every score collapses to 0 — no
    # div-by-zero on either engine
    out2 = {r.doc_id: r for r in
            curate.kn_perplexity(docs, "lang = 'none'").collect()}
    assert out2[0].sum_invp == 0


def test_kn_oracle_parity_inline(spark, documents):
    from tests.conftest import SF_DIR
    from tests.oracle_parity import duck_connection, compare

    ok, msg = compare(
        curate.kn_perplexity(documents, "lang = 'en'").orderBy("doc_id"),
        curate.kn_perplexity_oracle_sql(train_where="lang = 'en'"),
        duck_connection(SF_DIR))
    assert ok, msg


def test_mkn_score_hand_computed_tiny_corpus(spark):
    """Every term of the modified-KN surrogate recomputed by hand on a
    corpus engineered to populate counts 1..4 — pins the count-of-count
    discount derivation (d1/d2/d3 on the /1024 grid, including d2's >=0
    clamp), the per-count discount dispatch, the three-class
    interpolation mass, the unseen-context branch and the cap."""
    import hashlib

    buckets, scale = 4096, 1000

    def bk(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:3], 16) % buckets

    train = ["aa bb cc aa bb cc aa bb", "aa cc dd ee dd ee dd ee dd ff",
             "gg hh gg hh gg hh gg hh"]
    probe = "aa bb zz qq dd ee"
    docs = spark.createDataFrame(
        [(i, t, "t") for i, t in enumerate(train)] + [(9, probe, "p")],
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in
           curate.mkn_perplexity(docs, "lang = 't'").collect()}

    ph = {}
    for t in train:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            ph[(bk(a), bk(b))] = ph.get((bk(a), bk(b)), 0) + 1
    cu, n1u, n2u, n3u, n1b = {}, {}, {}, {}, {}
    for (u, v), c in ph.items():
        cu[u] = cu.get(u, 0) + c
        n1u[u] = n1u.get(u, 0) + (c == 1)
        n2u[u] = n2u.get(u, 0) + (c == 2)
        n3u[u] = n3u.get(u, 0) + (c >= 3)
        n1b[v] = n1b.get(v, 0) + 1
    T = len(ph)
    coc = [0] * 5
    for c in ph.values():
        if c <= 4:
            coc[c] += 1
    n1, n2, n3, n4 = coc[1], coc[2], coc[3], coc[4]
    # the fixture must actually exercise all four count classes
    assert min(n1, n2, n3, n4) >= 1
    Z = n1 + 2 * n2
    d1 = (1024 * n1) // Z
    d2 = max(0, 2048 - (3072 * n1 * n3) // (n2 * Z))
    d3 = max(0, 3072 - (4096 * n1 * n4) // (n3 * Z))
    cap = 1024 * (T + buckets) * scale

    def inv(u, v):
        if u in cu:
            c = ph.get((u, v), 0)
            d = d1 if c == 1 else d2 if c == 2 else d3 if c >= 3 else 0
            num = (T * max(1024 * c - d, 0)
                   + (d1 * n1u[u] + d2 * n2u[u] + d3 * n3u[u])
                   * n1b.get(v, 0))
            return min((1024 * cu[u] * T * scale) // max(num, 1), cap)
        return min((T * scale) // max(n1b.get(v, 0), 1), cap)

    ws = probe.split()
    want = [inv(bk(a), bk(b)) for a, b in zip(ws, ws[1:])]
    assert out[9].n_bigrams == 5
    assert out[9].sum_invp == sum(want)
    assert out[9].mkn_permille == sum(want) // 5


def test_mkn_continuation_count_signature(spark):
    """The 'Francisco' property survives the three-discount form: a
    frequent word bound to ONE context still scores more surprising in
    a novel context than a same-frequency many-context word."""
    rows = []
    for i in range(12):
        rows.append((i, "san francisco is a city", "t"))
    ctx = "long old new wide open dusty main broad quiet busy north south"
    for j, c in enumerate(ctx.split()):
        rows.append((100 + j, f"the {c} road is a path", "t"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model = curate.lm_model(docs.filter("lang = 't'"))
    probe = spark.createDataFrame(
        [(900, "valley francisco"), (901, "valley road")],
        "doc_id long, text string")
    got = {r.doc_id: r.mkn_permille
           for r in curate.mkn_score(probe, model).collect()}
    assert got[900] > got[901]


def test_mkn_unscorable_docs_and_empty_model(spark):
    docs = spark.createDataFrame(
        [(0, "aa bb cc dd", "t"), (1, "solo", "p"), (2, None, "p")],
        "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in
           curate.mkn_perplexity(docs, "lang = 't'").collect()}
    assert out[1].n_bigrams == 0 and out[1].mkn_permille is None
    assert out[2].n_bigrams == 0 and out[2].mkn_permille is None
    # empty model: T = 0 and every count-of-count is 0 — the discount
    # derivation's greatest(...) guards keep both engines at 0
    out2 = {r.doc_id: r for r in
            curate.mkn_perplexity(docs, "lang = 'none'").collect()}
    assert out2[0].sum_invp == 0


def test_mkn_oracle_parity_inline(spark, documents):
    from tests.conftest import SF_DIR
    from tests.oracle_parity import compare, duck_connection

    ok, msg = compare(
        curate.mkn_perplexity(documents, "lang = 'en'").orderBy("doc_id"),
        curate.mkn_perplexity_oracle_sql(train_where="lang = 'en'"),
        duck_connection(SF_DIR))
    assert ok, msg


def test_anneal_mix_arithmetic_both_branches(spark):
    """Hand-checkable schedule: phase A is budget-bound (the permille
    cap undercuts the waterline), phase B waterline-bound (the scarce
    domain binds before the budget); kept sets are nested prefixes of
    the shared deterministic rank."""
    rows = ([(i, "x") for i in range(40)]
            + [(100 + i, "y") for i in range(10)]
            + [(200 + i, None) for i in range(5)])     # never mixed
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    phases = [
        ("a", {"x": 500, "y": 500}, 200),   # budget: 50*200//1000 = 10
        ("b", {"x": 500, "y": 500}, 900),   # waterline: min(80, 20) = 20
    ]
    out = {(r.phase, r.lang): r
           for r in curate.anneal_mix(
               docs, phases, domain_col="lang", id_col="doc_id").collect()}
    # phase a: T = min(waterline 20, budget 10) = 10 -> k = 5 each
    assert out[("a", "x")].k_target == 5 and out[("a", "y")].k_target == 5
    # phase b: T = min(20, 45) = 20 -> k = 10 each (y fully consumed)
    assert out[("b", "x")].k_target == 10 and out[("b", "y")].k_target == 10
    assert all(r.n_kept == r.k_target for r in out.values())
    # nested prefixes: phase a's kept ids are a subset of phase b's --
    # provable from the audit because the rank is shared: sum over a
    # prefix grows monotonically with k and the selection is the same
    # order, so spot-check via the full kept-id sets
    import hashlib

    def kept_ids(dom, k):
        ids = [i for i, d in [(r[0], r[1]) for r in rows] if d == dom]
        return set(sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                i))[:k])

    assert out[("a", "x")].sum_kept_ids == sum(kept_ids("x", 5))
    assert out[("b", "x")].sum_kept_ids == sum(kept_ids("x", 10))
    assert kept_ids("x", 5) <= kept_ids("x", 10)


def test_anneal_mix_absent_domain_and_empty(spark):
    docs = spark.createDataFrame([(1, "x"), (2, "x")],
                                 "doc_id long, lang string")
    # a phase naming only a domain with no docs contributes no rows
    out = curate.anneal_mix(
        docs, [("a", {"zz": 1000}, 500), ("b", {"x": 1000}, 1000)],
        domain_col="lang").collect()
    assert {(r.phase, r.lang) for r in out} == {("b", "x")}
    assert curate.anneal_mix(docs, [], domain_col="lang").count() == 0


def test_anneal_mix_oracle_parity_inline(spark, documents):
    from tests.conftest import SF_DIR
    from tests.oracle_parity import compare, duck_connection

    phases = [
        ("p1_warmup",
         {"de": 140, "en": 390, "es": 160, "fr": 160, "zh": 150}, 600),
        ("p2_anneal",
         {"de": 30, "en": 850, "es": 40, "fr": 45, "zh": 35}, 500),
    ]
    ok, msg = compare(
        curate.anneal_mix(documents, phases, domain_col="lang"),
        curate.anneal_mix_oracle_sql(phases, domain_col="lang"),
        duck_connection(SF_DIR))
    assert ok, msg


def test_epoch_mix_cap_full_and_partial_branches(spark):
    """Hand-checkable: one domain hits the epoch cap (reported, not
    renormalized), one takes full+partial epochs, one partial-only;
    the partial prefix is the deterministic (md5, id) rank."""
    import hashlib

    rows = ([(i, "scarce") for i in range(10)]
            + [(100 + i, "mid") for i in range(20)]
            + [(200 + i, "big") for i in range(70)])
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    # tot=100, budget 2000 permille -> T=200
    # scarce w=500: min(4*10, 100) = 40 -> cap binds: 4 full, 0 partial
    # mid    w=300: min(80, 60) = 60  -> 3 full + 0?  60//20=3, 60%20=0
    # big    w=200: min(280, 40) = 40 -> 0 full, 40 partial
    out = {r.lang: r for r in curate.epoch_mix(
        docs, {"scarce": 500, "mid": 300, "big": 200},
        budget_permille=2000, epochs_cap=4, domain_col="lang").collect()}
    assert (out["scarce"].k_target, out["scarce"].n_full_epochs,
            out["scarce"].n_partial) == (40, 4, 0)
    assert (out["mid"].k_target, out["mid"].n_full_epochs,
            out["mid"].n_partial) == (60, 3, 0)
    assert (out["big"].k_target, out["big"].n_full_epochs,
            out["big"].n_partial) == (40, 0, 40)

    def prefix_sum(dom, k):
        ids = [i for i, d in rows if d == dom]
        return sum(sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(),
                                i))[:k])

    assert out["scarce"].sum_partial_ids == 0
    assert out["big"].sum_partial_ids == prefix_sum("big", 40)
    # empty weights / unknown domain
    assert curate.epoch_mix(docs, {}, budget_permille=500).count() == 0
    assert curate.epoch_mix(
        docs, {"zz": 1000}, budget_permille=500,
        domain_col="lang").count() == 0


def test_epoch_mix_oracle_parity_inline(spark, documents):
    from tests.conftest import SF_DIR
    from tests.oracle_parity import compare, duck_connection

    w = {"de": 500, "en": 200, "es": 100, "fr": 100, "zh": 100}
    ok, msg = compare(
        curate.epoch_mix(documents, w, budget_permille=1500,
                         epochs_cap=4, domain_col="lang"),
        curate.epoch_mix_oracle_sql(w, budget_permille=1500,
                                    epochs_cap=4, domain_col="lang"),
        duck_connection(SF_DIR))
    assert ok, msg


def test_mixture_weight_validation_raises(spark):
    """Review-found: a zero weight would divide anneal's waterline by
    zero (Python) vs NULL-skip in DuckDB's min — two different wrong
    answers. Both engine and oracle builders reject non-positive
    weights loudly; the contract is 'omit the domain'."""
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "x")], "doc_id long, lang string")
    with _pytest.raises(ValueError, match="positive"):
        curate.anneal_mix(docs, [("a", {"x": 0}, 500)], domain_col="lang")
    with _pytest.raises(ValueError, match="positive"):
        curate.anneal_mix_oracle_sql([("a", {"x": 0}, 500)],
                                     domain_col="lang")
    with _pytest.raises(ValueError, match="positive"):
        curate.epoch_mix(docs, {"x": -1}, budget_permille=500,
                         domain_col="lang")
    with _pytest.raises(ValueError, match="positive"):
        curate.epoch_mix_oracle_sql({"x": 0}, budget_permille=500,
                                    domain_col="lang")
