"""Run compaction — merge N overlapping sorted runs into one with
last-writer-wins conflict resolution (the reference's liveness merge rule,
SURVEY.md §1.2: higher writetime wins — NoTTLReader's merge of updates
across SSTable generations; the reference tool runs BEFORE compaction, this
operator IS the compaction analog a user of the pipeline eventually runs).

Spark-first shape: union the runs (a metadata-only concat — no data moves),
then ONE hash shuffle on the merge key with a map-side-combined arg-max:
``max(struct(writetime, *values))`` picks the winning version without a
window sort. At 100 TB this is the optimal shape — each run is scanned
once, the only exchange carries one row per (key, version), and partial
aggregation collapses duplicate versions inside each map task before the
shuffle.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cassandra_ttl_remover_spark.sinks.writer import write_sorted
from cassandra_ttl_remover_spark.sources.scan import scan


def merge_runs_lww(frames: list[DataFrame], keys: list[str],
                   writetime_col: str = "writetime") -> DataFrame:
    """Merge overlapping runs: one surviving row per ``keys``, the one with
    the highest ``writetime_col`` (ties broken deterministically by the
    remaining columns' lexicographic struct order — NULL loses, matching
    max() semantics in both engines with NULLS-LAST descending order).

    Single shuffle on the key; arg-max via struct max, so no window, no
    per-partition sort."""
    if not frames:
        raise ValueError("merge_runs_lww needs at least one run")
    u = reduce(lambda a, b: a.unionByName(b), frames)
    value_cols = [c for c in u.columns if c not in (*keys, writetime_col)]
    picked = u.groupBy(*keys).agg(
        F.max(F.struct(writetime_col, *value_cols)).alias("_w")
    )
    return picked.select(
        *keys,
        F.col(f"_w.{writetime_col}").alias(writetime_col),
        *[F.col(f"_w.{c}").alias(c) for c in value_cols],
    )


def compact_runs(spark: SparkSession, paths: list[str], *, keys: list[str],
                 writetime_col: str = "writetime", out: str | None = None,
                 num_files: int = 32) -> DataFrame:
    """File-level compaction: scan each run directory, merge with
    last-writer-wins, and (if ``out``) rewrite as one sorted partitioned
    run via the W1 sink — read back so callers see exactly what landed.
    Without ``out`` the merged frame is returned unmaterialized (compose
    into a larger plan)."""
    frames = [scan(spark, p) for p in paths]
    merged = merge_runs_lww(frames, keys=keys, writetime_col=writetime_col)
    if out is not None:
        write_sorted(merged, out, pk=keys[0], clustering=list(keys[1:]),
                     num_files=num_files)
        return scan(spark, out)
    return merged


def merge_runs_lww_oracle_sql(runs_sql: list[str], keys: list[str],
                              value_cols: list[str],
                              writetime_col: str = "writetime") -> str:
    """DuckDB oracle: UNION ALL the run CTE bodies, arg-max per key via
    row_number with the same (writetime, *values) descending NULLS LAST
    order the struct max implies."""
    union = " UNION ALL ".join(f"SELECT * FROM ({r})" for r in runs_sql)
    order = ", ".join(
        f"{c} DESC NULLS LAST" for c in (writetime_col, *value_cols)
    )
    keys_csv = ", ".join(keys)
    cols_csv = ", ".join((*keys, writetime_col, *value_cols))
    return f"""
WITH u AS ({union}),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY {keys_csv} ORDER BY {order}) AS rn
  FROM u
)
SELECT {cols_csv} FROM rk WHERE rn = 1 ORDER BY {keys_csv}
"""


def apply_changes(snapshot: DataFrame, changes: DataFrame, keys: list[str],
                  writetime_col: str = "writetime",
                  op_col: str = "op") -> DataFrame:
    """CDC apply: merge a change feed onto a snapshot — the delete-aware
    generalization of :func:`merge_runs_lww`, and the §1.2 stance made
    operational: DELETES ARE DATA. ``changes`` carries ``op_col`` in
    {'I','U','D'}; snapshot rows participate as implicit upserts. Per key
    the winner is the highest ``(writetime, op, *values)`` struct — op in
    the tie-break means an equal-writetime delete LOSES to a write ('U' >
    'I' > 'D' lexicographically), the conservative keep-data rule; a
    winning 'D' removes the key from the output. Same single-shuffle
    struct-arg-max shape as the LWW merge; the op column is dropped from
    the result.

    Scale: union is metadata-only; ONE hash shuffle on the key with
    map-side-combined partials; the delete filter is a projection."""
    snap = snapshot.withColumn(op_col, F.lit("U"))
    u = snap.unionByName(changes.select(*snap.columns))
    value_cols = [c for c in u.columns
                  if c not in (*keys, writetime_col, op_col)]
    picked = u.groupBy(*keys).agg(
        F.max(F.struct(writetime_col, op_col, *value_cols)).alias("_w")
    )
    return picked.filter(F.col(f"_w.{op_col}") != "D").select(
        *keys,
        F.col(f"_w.{writetime_col}").alias(writetime_col),
        *[F.col(f"_w.{c}").alias(c) for c in value_cols],
    )


def apply_changes_oracle_sql(snapshot_sql: str, changes_sql: str,
                             keys: list[str], value_cols: list[str],
                             writetime_col: str = "writetime",
                             op_col: str = "op") -> str:
    """DuckDB oracle: UNION ALL with the snapshot as implicit 'U', arg-max
    per key over the same (writetime, op, *values) descending order, delete
    winners removed."""
    order = ", ".join(
        f"{c} DESC NULLS LAST" for c in (writetime_col, op_col, *value_cols)
    )
    keys_csv = ", ".join(keys)
    cols_csv = ", ".join((*keys, writetime_col, *value_cols))
    return f"""
WITH snap AS (SELECT *, 'U' AS {op_col} FROM ({snapshot_sql})),
u AS (SELECT {cols_csv}, {op_col} FROM snap
      UNION ALL SELECT {cols_csv}, {op_col} FROM ({changes_sql})),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY {keys_csv} ORDER BY {order}) AS rn
  FROM u
)
SELECT {cols_csv} FROM rk WHERE rn = 1 AND {op_col} <> 'D'
ORDER BY {keys_csv}
"""


def compact_with_gc(cells: DataFrame, keys: list[str], *,
                    writetime_col: str = "writetime",
                    tombstone_col: str = "is_tombstone",
                    gc_grace_us: int,
                    now_us: int) -> DataFrame:
    """Full compaction semantics: LWW merge PLUS tombstone garbage
    collection (the gc_grace_seconds rule — Cassandra's compaction
    subtlety the reference tool operates next to,
    NoTTLReader.java's generation merge + tombstone retention):

    1. per key, the highest-``writetime`` version wins (LWW);
    2. a winning LIVE cell survives as ``status='live'``;
    3. a winning TOMBSTONE deletes the row — but the tombstone itself is
       RETAINED (``status='tombstone_retained'``) while
       ``writetime > now - gc_grace`` and PURGED entirely once older.
       Purging early is the classic data-resurrection bug (a replica
       that missed the delete would re-spread the old cell), which is
       why the grace window exists at all — the rule is first-class
       here, not an afterthought.

    Returns one row per surviving key:
    ``(*keys, writetime, status)`` ordered by keys.

    Scale shape: identical to :func:`merge_runs_lww` — ONE map-side-
    combined arg-max exchange on the key; the GC decision is a
    projection on the 1-row-per-key result. No windows, no second pass."""
    wt = F.col(writetime_col)
    win = (
        cells.groupBy(*keys)
        .agg(
            F.max(
                F.struct(
                    wt.alias("wt"),
                    F.col(tombstone_col).cast("int").alias("tomb"),
                )
            ).alias("_w")
        )
        .select(
            *keys,
            F.col("_w.wt").alias(writetime_col),
            (F.col("_w.tomb") == 1).alias("_is_tomb"),
        )
    )
    threshold = int(now_us) - int(gc_grace_us)
    return (
        win.filter(~F.col("_is_tomb") | (wt > F.lit(threshold)))
        .select(
            *keys,
            wt,
            F.when(F.col("_is_tomb"), F.lit("tombstone_retained"))
            .otherwise(F.lit("live"))
            .alias("status"),
        )
        .orderBy(*keys)
    )


def compact_with_gc_oracle_sql(cells_sql: str, keys: list[str], *,
                               gc_grace_us: int, now_us: int,
                               writetime_col: str = "writetime") -> str:
    """DuckDB mirror: arg-max per key via row_number with the same
    (writetime, tombstone-flag) descending order the struct max implies,
    then the identical GC filter."""
    ks = ", ".join(keys)
    threshold = int(now_us) - int(gc_grace_us)
    return f"""
WITH cells AS ({cells_sql}),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY {ks}
    ORDER BY {writetime_col} DESC, is_tombstone::INT DESC
  ) AS rn
  FROM cells
)
SELECT {ks}, {writetime_col},
       CASE WHEN is_tombstone THEN 'tombstone_retained'
            ELSE 'live' END AS status
FROM rk
WHERE rn = 1 AND (NOT is_tombstone OR {writetime_col} > {threshold})
ORDER BY {ks}
"""


def expire_then_compact(cells: DataFrame, keys: list[str], *,
                        writetime_col: str = "writetime",
                        expires_at_col: str = "expires_at",
                        now_s: int, gc_grace_s: int) -> DataFrame:
    """Cassandra's expired-cell rule composed with GC compaction: a cell
    whose TTL has lapsed (``expires_at <= now``) BECOMES a tombstone
    whose deletion time is its expiration instant, then the normal
    :func:`compact_with_gc` LWW + gc_grace machinery runs. This is the
    full lifecycle the reference tool operates inside — write ->
    expire -> tombstone -> grace -> purge (the reference strips the TTL
    precisely so this conversion never happens to migrated data;
    NoTTLColumnSerializer.java:24-51 writes the no-TTL cell shape).

    Conversion detail: the synthetic tombstone's writetime is
    ``expires_at`` (in µs) — the deletion happened when the cell
    expired, not when it was written — so a later live rewrite of the
    key correctly shadows the expiry.

    Returns :func:`compact_with_gc`'s ``(*keys, writetime, status)``
    frame. Same scale shape: one projection + one arg-max exchange."""
    wt = F.col(writetime_col)
    exp = F.col(expires_at_col)
    expired = exp.isNotNull() & (exp <= F.lit(int(now_s)))
    converted = cells.select(
        *keys,
        F.when(expired, exp * F.lit(1_000_000)).otherwise(wt)
        .cast("long").alias(writetime_col),
        expired.alias("is_tombstone"),
    )
    return compact_with_gc(
        converted, keys,
        gc_grace_us=int(gc_grace_s) * 1_000_000,
        now_us=int(now_s) * 1_000_000,
    )


def expire_then_compact_oracle_sql(cells_sql: str, keys: list[str], *,
                                   now_s: int, gc_grace_s: int,
                                   writetime_col: str = "writetime") -> str:
    converted = f"""
SELECT {', '.join(keys)},
       CASE WHEN expires_at IS NOT NULL AND expires_at <= {int(now_s)}
            THEN expires_at * 1000000 ELSE {writetime_col} END::BIGINT
         AS {writetime_col},
       (expires_at IS NOT NULL AND expires_at <= {int(now_s)})
         AS is_tombstone
FROM ({cells_sql})
"""
    return compact_with_gc_oracle_sql(
        converted, keys,
        gc_grace_us=int(gc_grace_s) * 1_000_000,
        now_us=int(now_s) * 1_000_000,
        writetime_col=writetime_col,
    )


def compact_atoms(atoms: DataFrame, *, gc_grace_us: int,
                  now_us: int) -> DataFrame:
    """Full-surface compaction over the native atom frame (the
    ``SSTABLE_SCHEMA`` shape ``pk, cell, kind, ttl, expiration,
    writetime, value``) — extends :func:`compact_with_gc`'s per-cell LWW
    with the THREE deletion granularities the reference carries through
    its merge ("deletes are data", SURVEY §1.2; the patched reader stack
    preserves partition deletions, range tombstones, and cell tombstones
    alike — Cassandra3TTLRemover.java:124-136) plus an explicit counter
    stance:

    **The one shadowing rule.** Every deletion atom shadows the atoms it
    covers whose ``writetime <= the deletion's writetime`` (ties go to
    the delete). Coverage: a partition tombstone covers its whole
    partition (every cell atom AND every range tombstone); a range
    tombstone covers cells named in ``[start, end]`` (bounds inclusive);
    a cell tombstone covers its own ``(pk, cell)`` — expressed there as
    the usual tombstones-win-ties arg-max. A deletion atom itself
    survives while ``writetime > now - gc_grace`` (data-resurrection
    guard) and is PURGED once older, exactly
    :func:`compact_with_gc`'s rule applied uniformly to all three
    granularities.

    **Counter stance (declared).** Cassandra counters merge ADDITIVELY at
    compaction — each generation's cell is a partial sum, not a version.
    The reference never merges them (it only rewrites cells one sstable
    at a time — NoTTLColumnSerializer.java:26-32 preserves counter bytes
    verbatim), so it never had to choose; a compactor must. Here a
    ``(pk, cell)`` holding counter shards sums every UNSHADOWED shard
    (``kind='counter'`` and ``'counter_update'`` both contribute — an
    update is an increment that never got contextualized), emitted as
    ``status='counter_live'`` with ``writetime = max(shard writetimes)``
    and ``value = str(sum)``. A cell tombstone on a counter key shadows
    shards with ``writetime <= tombstone`` (the counter-delete rule;
    deleted counters must not resurrect, hence ties die); if no shard
    survives, the tombstone is the winner and the normal retain/purge
    rule applies. Non-counter atoms on a counter key are a schema
    violation and are ignored (Cassandra forbids mixing counter and
    regular columns in one table).

    Output: one row per surviving atom —
    ``(pk, cell, writetime, value, status)`` with status in ``live`` /
    ``counter_live`` / ``tombstone_retained`` /
    ``range_tombstone_retained`` (cell = start bound, value = end bound)
    / ``partition_tombstone_retained`` (cell and value NULL).

    Scale shape: the atoms take ONE exchange, a hash partitioning on
    ``pk``, and each key's atoms are resolved by one grouped map
    (``applyInPandas``) running the same rule as the k-way merge and the
    GC rewrite (:func:`~..sources.sstable._compact_key` over
    :func:`~..sources.sstable._resolve_atoms`), so engine code states
    the rule once; :func:`compact_atoms_oracle_sql` is its independent
    DuckDB mirror. The corpus is scanned once and nothing is cached or
    broadcast.

    Memory: a task holds one partition key's atoms at a time, as the
    merge task (:func:`~..sources.sstable._merge_range`) does, so one
    wide partition must fit in a Python worker (the ``(pk, cell)``
    aggregate this replaced had no per-key bound either).

    Input checks: a row the native format cannot hold raises a
    ValueError naming its pk: an unknown ``kind``, a NULL pk, or a NULL
    cell name or value on a kind that has one (a tombstone's value and a
    partition tombstone's cell are NULL). ``ttl`` and ``expiration``
    take no part in the rule."""
    from cassandra_ttl_remover_spark.sources.sstable import (
        MERGED_SCHEMA,
        _compact_key,
    )

    threshold = int(now_us) - int(gc_grace_us)
    return (
        atoms.select(
            "pk", "cell", "kind",
            # 0 fills the integer slots _row_to_cell reads for a row that
            # has none, and keeps the pandas columns int64
            F.coalesce("ttl", F.lit(0)).alias("ttl"),
            F.coalesce("expiration", F.lit(0)).alias("expiration"),
            "writetime", "value")
        .groupBy("pk")
        .applyInPandas(lambda pdf: _compact_key(pdf, threshold),
                       schema=MERGED_SCHEMA)
    )


def compact_atoms_oracle_sql(atoms_sql: str, *, gc_grace_us: int,
                             now_us: int) -> str:
    """DuckDB mirror of :func:`compact_atoms` over any SQL producing the
    SSTABLE_SCHEMA atom shape — the same shadowing rule, counter sums,
    arg-max order (writetime DESC, tombstone DESC, value DESC NULLS
    LAST), and uniform retain/purge threshold."""
    threshold = int(now_us) - int(gc_grace_us)
    return f"""
WITH atoms AS ({atoms_sql}),
pd AS (
  SELECT pk, max(writetime) AS pd_wt FROM atoms
  WHERE kind = 'partition_tombstone' GROUP BY pk
),
rts AS (
  SELECT pk, cell AS rt_start, value AS rt_end, max(writetime) AS mfda
  FROM atoms WHERE kind = 'range_tombstone' GROUP BY pk, cell, value
),
cells AS (
  SELECT a.pk, a.cell, a.kind, a.writetime, a.value
  FROM atoms a LEFT JOIN pd ON pd.pk = a.pk
  WHERE a.kind NOT IN ('partition_tombstone', 'range_tombstone')
    AND (pd.pd_wt IS NULL OR a.writetime > pd.pd_wt)
    AND NOT EXISTS (
      SELECT 1 FROM rts r
      WHERE r.pk = a.pk AND a.cell BETWEEN r.rt_start AND r.rt_end
        AND a.writetime <= r.mfda)
),
keys AS (
  SELECT pk, cell,
         max(CASE WHEN kind = 'tombstone' THEN writetime END) AS tomb_wt,
         bool_or(kind IN ('counter', 'counter_update')) AS is_counter
  FROM cells GROUP BY pk, cell
),
counter_keys AS (
  SELECT c.pk, c.cell,
         sum(CASE WHEN c.kind IN ('counter', 'counter_update')
                   AND (k.tomb_wt IS NULL OR c.writetime > k.tomb_wt)
             THEN c.value::BIGINT END)::BIGINT AS cnt_sum,
         max(CASE WHEN c.kind IN ('counter', 'counter_update')
                   AND (k.tomb_wt IS NULL OR c.writetime > k.tomb_wt)
             THEN c.writetime END) AS cnt_wt,
         max(k.tomb_wt) AS tomb_wt
  FROM cells c JOIN keys k USING (pk, cell)
  WHERE k.is_counter GROUP BY c.pk, c.cell
),
noncounter AS (
  SELECT c.pk, c.cell, c.writetime, c.value,
         (c.kind = 'tombstone') AS is_tomb,
         row_number() OVER (
           PARTITION BY c.pk, c.cell
           ORDER BY c.writetime DESC, (c.kind = 'tombstone')::INT DESC,
                    c.value DESC NULLS LAST) AS rn
  FROM cells c JOIN keys k USING (pk, cell) WHERE NOT k.is_counter
)
SELECT pk, cell, writetime,
       CASE WHEN is_tomb THEN NULL ELSE value END AS value,
       CASE WHEN is_tomb THEN 'tombstone_retained' ELSE 'live' END AS status
FROM noncounter
WHERE rn = 1 AND (NOT is_tomb OR writetime > {threshold})
UNION ALL
SELECT pk, cell, cnt_wt, cnt_sum::VARCHAR, 'counter_live'
FROM counter_keys WHERE cnt_sum IS NOT NULL
UNION ALL
SELECT pk, cell, tomb_wt, NULL, 'tombstone_retained'
FROM counter_keys WHERE cnt_sum IS NULL AND tomb_wt > {threshold}
UNION ALL
SELECT r.pk, r.rt_start, r.mfda, r.rt_end, 'range_tombstone_retained'
FROM rts r LEFT JOIN pd ON pd.pk = r.pk
WHERE (pd.pd_wt IS NULL OR r.mfda > pd.pd_wt) AND r.mfda > {threshold}
UNION ALL
SELECT pk, NULL, pd_wt, NULL, 'partition_tombstone_retained'
FROM pd WHERE pd_wt > {threshold}
"""
