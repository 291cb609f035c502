"""Physical-plan utilities: parallelism guards and plan inspection.

The reference gets its (single-threaded) execution shape for free from a
hand-fused loop (SURVEY.md §4); in Spark the physical plan is Catalyst's
job, but two things remain the engine's responsibility:

1. **Parallelism floors.** A scan's task count is bounded by file splits;
   a small file with one parquet row group arrives as ONE task no matter
   what ``spark.sql.files.maxPartitionBytes`` says. That is correct for
   cheap scans, but CPU-heavy per-row operators (shingling, minhash,
   simhash, vector math) would then serialize onto one core. ``fan_out``
   inserts a hash repartition only when the incoming plan has fewer
   partitions than the cluster's parallelism — at 100 TB, where a scan
   already yields ~800k tasks, it is a planning-time no-op (no shuffle is
   added), while locally it spreads the expensive projection across all
   cores for the cost of shuffling the (small) input once.

2. **Plan inspection.** `explain`-derived assertions (pushed filters,
   pruned read schemas, broadcast joins) used by tests and the bench docs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


import re as _re

#: logical nodes whose output is shuffle.partitions-sized.
_SHUFFLE_SIZED_NODES = frozenset(
    {"Aggregate", "Join", "Window", "Sort", "Deduplicate", "RepartitionByExpression"}
)

#: ``Repartition N, <shuffle>`` — both repartition(N) (true) and coalesce(N)
#: (false) print their exact target partition count.
_REPARTITION_RE = _re.compile(r"^[\s:+-]*Repartition (\d+), (?:true|false)")

#: head node name of a logical-plan line ('+- Aggregate [...]' -> 'Aggregate').
_NODE_RE = _re.compile(r"^[\s:+-]*([A-Za-z]+)")


def _size_bytes(text: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m', '1g')."""
    t = text.strip().lower().rstrip("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(t[-1:], 1)
    return int(t[:-1] if mult > 1 else t) * mult


def _estimated_partitions(df: DataFrame) -> int:
    """Planning-time estimate of the plan's output partition count — no RDD
    conversion, no file listing, no execution. The TOPMOST partition-
    determining logical node decides: an explicit Repartition/coalesce
    carries its exact count; any shuffle-producing node yields
    shuffle.partitions; a checkpoint (``LogicalRDD``) has its RDD's real
    partition count, which its bytes say nothing about; a bare scan
    pipeline is sized by Catalyst's sizeInBytes statistic over
    spark.sql.files.maxPartitionBytes — the same quantity Spark's own
    file-split planner uses."""
    spark = df.sparkSession
    logical = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    size = int(logical.stats().sizeInBytes())
    for line in logical.toString().splitlines():
        m = _REPARTITION_RE.match(line)
        if m:
            return int(m.group(1))
        node = _NODE_RE.match(line)
        if node and node.group(1) == "LogicalRDD":
            # the first LogicalRDD line is the first such leaf in order
            leaves = logical.collectLeaves()
            rdd = next(leaf for leaf in map(leaves.apply, range(leaves.length()))
                       if leaf.nodeName() == "LogicalRDD")
            return int(rdd.rdd().getNumPartitions())
        if node and node.group(1) in _SHUFFLE_SIZED_NODES:
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            # AQE coalesces post-shuffle partitions by MAP-OUTPUT size, so a
            # small plan downstream of a join/agg runs in far fewer tasks
            # than shuffle.partitions — often one. Model that: the runtime
            # partition count is bounded by size/advisoryPartitionSize.
            # (A CPU-heavy projection placed after such a shuffle is the
            # round-1 dedup_against_corpus failure mode: the whole simhash
            # evaluation serialized onto the one coalesced task.)
            if (
                spark.conf.get("spark.sql.adaptive.enabled", "true") == "true"
                and spark.conf.get(
                    "spark.sql.adaptive.coalescePartitions.enabled", "true"
                ) == "true"
            ):
                adv = _size_bytes(spark.conf.get(
                    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"
                ))
                n = max(1, min(n, -(-size // adv)))
            return n
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    return max(1, -(-size // max_pb))


def fan_out(df: DataFrame, *key_cols: str, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster parallelism)
    ahead of CPU-bound per-row transforms.

    Decided entirely at PLANNING time via :func:`_estimated_partitions` (the
    round-1 version forced an RDD conversion on every operator entry). At
    100 TB a scan estimates ~800k splits >> parallelism, so fan_out never
    adds a shuffle to a big pipeline; a single small file (one split) gets
    spread across all cores before CPU-heavy work. With ``key_cols`` the
    repartition is a deterministic hash exchange (preferred: enables
    downstream co-partitioning); without, a round-robin exchange.
    """
    spark = df.sparkSession
    target = int(min_partitions or spark.sparkContext.defaultParallelism)
    try:
        current = _estimated_partitions(df)
    except Exception:  # plan not inspectable (e.g. streaming) — leave it
        return df
    if current >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def local_frame(spark, rows, schema) -> DataFrame:
    """Small DRIVER-LOCAL DataFrame (shard offsets, dictionaries,
    codebooks, mixture target tables) without the Python-worker
    fan-out: stock ``spark.createDataFrame(rows)`` parallelizes the
    list into ``defaultParallelism`` pickled slices, so EVERY stage
    that consumes the frame runs |cores| tasks which each round-trip a
    Python worker just to deserialize a handful of rows — measured r12
    at 32 cores: 0.47 s per materialization of a 9-row frame and
    10-20 s of aggregate executor CPU per consuming stage (the
    parallelize/PythonRDD pattern showed up in anneal_mix,
    doremi_weights, bpe_train and every two_level_* offsets join). The
    pandas+Arrow constructor ships the same rows as ONE Arrow batch
    decoded JVM-side (~0.05 s, zero Python workers); ``dtype=object``
    keeps cells as Python objects so the explicit ``schema`` alone
    drives the Arrow types (None in a long column stays NULL instead
    of becoming NaN). Falls back to a single-slice parallelize when
    pandas/Arrow is unavailable or the row list is empty (an empty
    object frame cannot carry a nested schema through pandas). Rows
    must be TUPLES matching ``schema`` order.

    Only ImportError (no pandas) falls back — a schema/coercion error
    from the pandas path re-raises as itself rather than resurfacing as
    a confusing parallelize-path error (r12 ADVICE: the bare
    ``except Exception`` silently swallowed real schema bugs). The
    fallback stays single-slice so a missing pandas degrades the
    construction, never the consumers' task counts. Sessions with Arrow
    OFF (the Spark default for user-supplied sessions; ENGINE_CONF turns
    it on) take the same single-slice fallback — the pandas constructor
    without Arrow quietly reverts to a defaultParallelism parallelize,
    the exact fan-out this helper exists to remove."""
    rows = list(rows)
    if rows:
        arrow_on = str(spark.conf.get(
            "spark.sql.execution.arrow.pyspark.enabled", "false"
        )).lower() == "true"
        try:
            import pandas as pd
        except ImportError:
            pass
        else:
            if arrow_on:
                return spark.createDataFrame(
                    pd.DataFrame(rows, dtype=object), schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


#: merge rule per algebraic aggregate for the two-stage salted_agg.
_MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_agg(df: DataFrame, keys: list[str],
               aggs: dict[str, tuple[str, str]], n_salts: int = 32) -> DataFrame:
    """Two-stage salted aggregation for skewed group keys.

    ``aggs`` maps output column -> (fn, input column), fn one of
    sum/count/min/max (algebraic, so partials merge exactly). Stage 1 groups
    by (keys + salt) — a hot key's rows spread over ``n_salts`` reducers —
    stage 2 merges the partials per key. The salt is a deterministic hash of
    the whole row, so retries reproduce the same placement.

    Use when one group key dominates (AQE splits skewed JOIN partitions but
    a single aggregation group still lands on one reducer). For uniform
    keys, plain groupBy is one shuffle and strictly cheaper.
    """
    for fn, _ in aggs.values():
        if fn not in _MERGE:
            raise ValueError(f"non-algebraic aggregate {fn!r}; use plain groupBy")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    stage1 = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(*[
            getattr(F, fn)(col).alias(out) for out, (fn, col) in aggs.items()
        ])
    )
    return stage1.groupBy(*keys).agg(
        *[_MERGE[fn](out).alias(out) for out, (fn, _) in aggs.items()]
    )


def skew_distinct_count(df: DataFrame, key: str, value: str) -> DataFrame:
    """Per-key distinct count that survives a hot key: dedupe (key, value)
    first (spreads by the pair hash), then count per key — no single reducer
    ever accumulates a hot key's full distinct set."""
    return (
        df.select(key, value).dropDuplicates([key, value])
        .groupBy(key).agg(F.count("*").alias("n_distinct"))
    )


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (what ``.explain("formatted")``
    prints) — for tests that assert pushdown/pruning/broadcast properties."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the scan nodes, empty string if none."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """The ReadSchema section(s) of the scan nodes — proves column pruning."""
    return "\n".join(
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "ReadSchema" in line
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (lower is better;
    used by tests to pin operator shuffle budgets). Counts the formatted
    plan's node-detail headers ``(N) Exchange`` so each exchange counts once
    (the tree section repeats every node)."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", formatted_plan(df), re.MULTILINE))


import threading as _threading

import weakref as _weakref

#: one AQE-off child session per parent session, created under a lock.
#: Keyed WEAKLY by the parent Python session object: entries vanish
#: with their parent (no leak across session restarts in long-lived
#: processes), and unlike a JVM identity-hashCode key, two live
#: sessions can never collide (review-found hazard: identity hashes
#: can be reused after GC, handing a new session a child bound to a
#: stopped predecessor's conf)
_CHECKPOINT_SESSIONS: "_weakref.WeakKeyDictionary" = \
    _weakref.WeakKeyDictionary()
_CHECKPOINT_LOCK = _threading.Lock()


def _aqe_off_session(spark):
    """A cached ``spark.newSession()`` whose SQLConf has AQE disabled —
    an ISOLATED conf over the shared SparkContext, so building a plan in
    it never perturbs plans compiling concurrently on the parent."""
    with _CHECKPOINT_LOCK:
        child = _CHECKPOINT_SESSIONS.get(spark)
        if child is None:
            child = spark.newSession()
            child.conf.set("spark.sql.adaptive.enabled", "false")
            _CHECKPOINT_SESSIONS[spark] = child
        return child


def checkpoint_partitioned(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=False)`` that PRESERVES the frame's output
    partitioning in the checkpointed scan's metadata. Under AQE the
    adaptive plan reports ``UnknownPartitioning`` until executed, so a
    plain localCheckpoint of a repartitioned frame produces a LogicalRDD
    whose partitioning Catalyst can't see — every downstream groupBy/join
    on the partition key re-exchanges data that is already correctly
    placed. Building the checkpoint with AQE off captures the real
    ``hashpartitioning`` into the LogicalRDD, so iterative consumers
    (logreg's GD loop) reuse the partitioning with ZERO exchanges per
    pass. Cost: this one exchange forgoes AQE's runtime coalescing —
    size ``spark.sql.shuffle.partitions`` for the target scale as usual.

    The AQE-off build runs in a cached CHILD session
    (``spark.newSession()`` — isolated SQLConf, shared SparkContext):
    the frame's logical plan is rebound into the child, checkpointed
    there, and the resulting LogicalRDD rebound back to the caller's
    session. No session-global flag is ever toggled, so plans compiling
    on unrelated threads are untouched (this replaces the r10 lock,
    which serialized callers but still exposed concurrent compiles to
    the flipped flag)."""
    from pyspark.sql import DataFrame as _PyDataFrame

    spark = df.sparkSession
    child = _aqe_off_session(spark)
    of_rows = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows  # noqa: SLF001
    # rebind the ANALYZED plan (temp-view references already inlined —
    # the child session's catalog is isolated and must not re-resolve)
    in_child = _PyDataFrame(
        of_rows(child._jsparkSession,  # noqa: SLF001
                df._jdf.queryExecution().analyzed()),  # noqa: SLF001
        child,
    )
    cp = in_child.localCheckpoint(eager=False)
    return _PyDataFrame(
        of_rows(spark._jsparkSession,  # noqa: SLF001
                cp._jdf.queryExecution().analyzed()),  # noqa: SLF001
        spark,
    )


def two_level_cumsum(df: DataFrame, order_cols: list[str], val_col: str,
                     out: str = "cum", shards: int = 32) -> DataFrame:
    """Distributed running sum over a global order WITHOUT a
    single-partition window: range-partition on the order columns, run
    the prefix sum per shard in parallel, collect the ≤``shards`` shard
    totals to the driver, prefix them there, and broadcast each shard's
    offset back — the classic two-level scan. This is the real form of
    the "documented 100 TB path" that sweep-line and PPS-style operators
    name: identical numbers to ``Window.orderBy(...)`` whenever the
    ties among ``order_cols`` carry equal ``val_col`` contributions (or
    no ties exist), at shard-parallel cost.

    Driver state is one number per shard. Result columns: the input's
    plus ``out``."""
    return two_level_cumsums(df, order_cols, {out: val_col}, shards=shards)


def two_level_cumsums(df: DataFrame, order_cols: list[str],
                      val_cols: dict[str, str],
                      shards: int = 32) -> DataFrame:
    """:func:`two_level_cumsum` over SEVERAL value columns in ONE pass:
    ``val_cols`` maps output name -> input column; every running sum
    shares the single range partitioning, shard-local window and
    shard-totals job (an N-column cumulative needs one scan, not N).
    KS-style paired CDFs are the canonical consumer."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # localCheckpoint pins ONE materialization of the range partitioning:
    # repartitionByRange samples its boundaries per job, so without it
    # the shard-totals job and the output job could disagree on which
    # shard a row belongs to, silently corrupting the offsets
    d = df.repartitionByRange(shards, *[F.col(c) for c in order_cols]) \
        .withColumn("_pid", F.spark_partition_id()) \
        .localCheckpoint(eager=False)
    lw = Window.partitionBy("_pid").orderBy(
        *[F.col(c) for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = d
    for i, (_, val) in enumerate(val_cols.items()):
        local = local.withColumn(f"_lc{i}", F.sum(val).over(lw))
    # shard total = SUM of values, never max of the running sum — with
    # negative values (sweep-line deltas) the running max is not the
    # shard's net contribution
    totals = {
        r._pid: tuple(r[f"_t{i}"] for i in range(len(val_cols)))
        for r in d.groupBy("_pid").agg(*[
            F.sum(val).alias(f"_t{i}")
            for i, (_, val) in enumerate(val_cols.items())
        ]).collect()
    }
    runs = [0] * len(val_cols)
    offsets = {}
    for pid in sorted(totals):
        offsets[pid] = tuple(runs)
        runs = [r + int(t or 0) for r, t in zip(runs, totals[pid])]
    spark = df.sparkSession
    off_schema = "_pid int, " + ", ".join(
        f"_off{i} long" for i in range(len(val_cols)))
    off_df = local_frame(
        spark,
        [(pid, *off) for pid, off in offsets.items()]
        or [(0, *([0] * len(val_cols)))],
        off_schema,
    )
    outd = local.join(F.broadcast(off_df), "_pid", "left")
    drops = ["_pid"]
    for i, (out, _) in enumerate(val_cols.items()):
        outd = outd.withColumn(
            out, F.col(f"_lc{i}") + F.coalesce(F.col(f"_off{i}"), F.lit(0)))
        drops += [f"_lc{i}", f"_off{i}"]
    return outd.drop(*drops)


def two_level_row_number(df: DataFrame, order_cols: list[str],
                         out: str = "rn", shards: int = 32,
                         partition_cols: list[str] | None = None
                         ) -> DataFrame:
    """Global ``row_number()`` over a total order WITHOUT a
    single-partition window — :func:`two_level_cumsum`'s construction
    applied to ranking: range-partition on the order columns, number
    rows per shard in parallel, collect the ≤``shards`` shard COUNTS to
    the driver, prefix them, and broadcast each shard's offset back.
    Global rank = local rank + shard offset.

    With ``partition_cols`` the same construction yields a PARTITIONED
    ``row_number() OVER (PARTITION BY pc ORDER BY ...)`` whose partition
    key may be LOW-cardinality over a corpus-sized frame — the shape a
    plain ``Window.partitionBy(pc)`` gets wrong at scale (|pc| reducers
    each sorting a whole partition's rows through one task). Here the
    range partitioning is on ``(pc, order_cols)``, so one pc value spans
    MANY shards sorted in parallel; counts are collected per
    ``(shard, pc)`` — at most ``shards + |pc| - 1`` rows, since each
    shard holds a contiguous key range — prefixed per pc value on the
    driver, and joined back null-safely (NULL partition values are legal
    rows, not dropped).

    Determinism contract (same as ``Window.orderBy``'s): rows that tie
    on ALL ``order_cols`` may be numbered in either order — callers
    that consume rank-selected VALUES must ensure tied rows carry equal
    values for the consumed columns (true wherever a single-partition
    ``row_number`` was previously correct). Range partitioning places
    equal keys in one shard, so tie groups never straddle an offset
    boundary's correctness.

    This is the order-statistic primitive for exact medians/k-th
    elements over bounded-but-large frames (Theil–Sen's O(|days|²)
    pair ranking) and for per-group rank selection where the group key
    is low-cardinality (doremi_resample's per-domain keep-k): shard-
    parallel sort instead of one task holding a whole frame/group.
    Driver state is one count per (shard, group-slice)."""
    from pyspark.sql import Window

    pc = list(partition_cols or [])
    # localCheckpoint pins ONE materialization of the range partitioning
    # (repartitionByRange samples boundaries per job — see
    # two_level_cumsum) so the counts job and the output job agree on
    # shard membership
    d = df.repartitionByRange(shards,
                              *[F.col(c) for c in pc + order_cols]) \
        .withColumn("_pid", F.spark_partition_id()) \
        .localCheckpoint(eager=False)
    lw = Window.partitionBy("_pid", *pc).orderBy(
        *[F.col(c) for c in order_cols])
    local = d.withColumn("_lrn", F.row_number().over(lw))
    counts = {
        tuple(r[c] for c in ["_pid", *pc]): r["_n"]
        for r in d.groupBy("_pid", *pc)
        .agg(F.count("*").alias("_n")).collect()
    }
    # prefix the shard counts WITHIN each partition-key value (plain
    # global prefix when pc is empty). Only the _pid order matters —
    # shards hold contiguous key ranges, so a group's slices appear in
    # ascending-pid order; group order among equal pids is irrelevant
    # because offsets accumulate per group independently
    runs: dict[tuple, int] = {}
    offsets = {}
    for key in sorted(counts, key=lambda k: k[0]):
        grp = key[1:]
        offsets[key] = runs.get(grp, 0)
        runs[grp] = runs.get(grp, 0) + int(counts[key])
    if pc:
        from pyspark.sql.types import (IntegerType, LongType, StructField,
                                       StructType)

        off_schema = StructType(
            [StructField("_pid", IntegerType())]
            + [StructField(f"_k{i}", df.schema[c].dataType)
               for i, c in enumerate(pc)]
            + [StructField("_off", LongType())]
        )
        off_df = local_frame(
            df.sparkSession,
            [(key[0], *key[1:], off) for key, off in offsets.items()]
            or [(0, *([None] * len(pc)), 0)],
            off_schema,
        )
        cond = local["_pid"] == off_df["_pid"]
        for i, c in enumerate(pc):
            # eqNullSafe: a NULL group value must still find its offset
            cond = cond & local[c].eqNullSafe(off_df[f"_k{i}"])
        return (
            local.join(F.broadcast(off_df), cond, "left")
            .drop(off_df["_pid"])
            .drop(*[f"_k{i}" for i in range(len(pc))])
            .withColumn(out, (F.col("_lrn")
                              + F.coalesce(F.col("_off"),
                                           F.lit(0))).cast("long"))
            .drop("_pid", "_lrn", "_off")
        )
    off_df = local_frame(
        df.sparkSession,
        [(key[0], off) for key, off in offsets.items()] or [(0, 0)],
        "_pid int, _off long",
    )
    return (
        local.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(out, (F.col("_lrn") + F.coalesce(F.col("_off"),
                                                     F.lit(0))).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def empty_partition_windows(df: DataFrame) -> list[str]:
    """Window nodes in the OPTIMIZED logical plan whose partition spec
    is empty — each such window funnels the whole frame through ONE
    task, the plan shape that breaks first at 100 TB. Returns one
    descriptive string per offending node (empty list = clean). Tests
    sweep declared queries with this; operators that genuinely need a
    global order route through :func:`two_level_cumsum` /
    :func:`two_level_row_number` instead.

    Known blind spot: a ``localCheckpoint`` severs the logical plan, so
    windows UPSTREAM of a checkpoint (including the partitioned shard
    windows inside the two_level primitives — which are the desired
    shape) are not visible to this audit; it inspects the final
    reachable plan."""
    import json

    plan = json.loads(
        df._jdf.queryExecution().optimizedPlan().toJSON())  # noqa: SLF001
    bad = []
    for node in plan:
        cls = node.get("class", "")
        if cls.endswith(".Window") and not node.get("partitionSpec"):
            bad.append(
                f"{cls.rsplit('.', 1)[-1]} windowExpressions="
                f"{str(node.get('windowExpressions'))[:200]}"
            )
    return bad


def salted_join(left: DataFrame, right: DataFrame, key: str,
                n_salts: int = 8) -> DataFrame:
    """Skew-mitigated equi-join: the FACT side gets a deterministic
    row-hash salt in [0, n_salts); the DIM side is replicated once per
    salt value (an ``explode(sequence(...))`` — n_salts copies of the
    small side, never of the fact); the join key becomes (key, salt), so
    a hot key's fact rows spread across ``n_salts`` reducers instead of
    serializing on one. Row-for-row identical to ``left.join(right,
    key)`` for any 1:N key relationship — replication only multiplies
    the DIM side, and each fact row meets exactly the one replica
    carrying its salt.

    This is the manual form of what AQE's skew-join split does at
    runtime; it exists for the cases AQE can't reach (skew behind an
    exchange reused by several consumers, or a first-stage join whose
    partition stats aren't known yet). For uniform keys plain join is
    strictly cheaper — measure with
    :func:`~cassandra_ttl_remover_spark.operators.audit.key_skew_report`
    first."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                  F.lit(n_salts)).cast("int")
    lf = left.withColumn("_salt", salt)
    rt = right.withColumn(
        "_salt", F.explode(F.expr(f"sequence(0, {int(n_salts)} - 1)"))
    )
    return lf.join(rt, [key, "_salt"]).drop("_salt")


def incremental_agg_merge(base_agg: DataFrame, delta: DataFrame,
                          keys: list[str],
                          aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """Incremental materialized-view maintenance for algebraic
    aggregates: given the MATERIALIZED aggregate ``base_agg`` (columns =
    keys + the agg outputs) and a raw ``delta`` batch, produce the
    aggregate of base∪delta WITHOUT touching the base's raw rows — the
    view-refresh path whose cost is O(delta), not O(history). ``aggs``
    has :func:`salted_agg`'s contract (sum/count/min/max only — the
    algebraic class whose partials merge exactly; avg/median callers
    store sum+count and divide at read time).

    Identical-result guarantee (hash-matched in q_w7's oracle): merging
    the delta's partials into the base equals the full recompute over
    all rows, because every listed aggregate is associative +
    commutative and the sums run in DECIMAL when exactness matters.

    Scale shape: the delta aggregates with ONE map-side-combined
    shuffle at delta size; the merge is a union + one groupBy over
    (base keys ∪ delta keys) — group-cardinality-sized, orders below
    the fact table. This is the pattern behind every "update the daily
    rollup from the last hour's files" job at 100 TB."""
    for fn, _ in aggs.values():
        if fn not in _MERGE:
            raise ValueError(f"non-algebraic aggregate {fn!r}; "
                             "maintain sum+count instead")
    delta_partial = delta.groupBy(*keys).agg(
        *[getattr(F, fn)(col).alias(out) for out, (fn, col) in aggs.items()]
    )
    return (
        base_agg.select(*keys, *aggs.keys())
        .unionByName(delta_partial.select(*keys, *aggs.keys()))
        .groupBy(*keys)
        .agg(*[_MERGE[fn](out).alias(out) for out, (fn, _) in aggs.items()])
    )
