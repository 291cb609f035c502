"""Sorted partitioned sink (SURVEY.md §2.1 W1/T5/W2, §4 ordering note).

The reference writes transformed partitions in token order to new SSTables
under ``out/<ks>/<table>/`` keeping originals
(SSTableRewriter.constructKeepingOriginals — Cassandra3TTLRemover.java:93-99,
output layout :49-61, append-in-scan-order :141; within-row sorted rebuild
via BTreeRow.sortedBuilder :171).

Spark does NOT preserve source order through shuffles (SURVEY.md §4), so the
sink makes ordering explicit:

  ``repartitionByRange(pk)`` — range-partition on the partition key, giving
  globally ordered, non-overlapping output files (the analog of token-ordered
  SSTables, with parquet min/max footers as the index summary), then
  ``sortWithinPartitions(pk, *clustering)`` — the clustering sort inside each
  partition (BTreeRow.sortedBuilder analog).

"Keep originals" == write to a NEW path, never in place; Spark's job-commit
protocol gives the atomic-rename lifecycle the reference gets from
LifecycleTransaction.offline.

Scale: repartitionByRange samples the key distribution (range bounds from a
sample pass) so output files are balanced even under key skew; writing sorted
parquet makes every downstream range scan prunable. Bloom filters on the key
column are opt-in, mirroring the SSTable bloom
(NoTTLReader.java:607-613) via parquet.bloom.filter.enabled.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def write_sorted(
    df: DataFrame,
    out: str,
    pk: str,
    clustering: list[str] | None = None,
    *,
    num_files: int | None = None,
    bloom_filter: bool = False,
    compression: str = "zstd",
) -> None:
    """W1 — range-partitioned, clustering-sorted parquet write.

    Output is token-ordered across files and clustering-ordered within files;
    originals untouched (new path). W2's serialization-header derivation is
    automatic — parquet footers carry schema + min/max stats.
    """
    clustering = clustering or []
    parts = [F.col(pk)] + [F.col(c) for c in clustering]
    # repartitionByRange's bounds-sampling job executes the whole upstream
    # pipeline once BEFORE the shuffle executes it again; the lazy
    # checkpoint pins a single materialization that both passes read
    # (measured r12 on the strip pipeline: two full scan+strip stages ->
    # one + cheap block reads). At 100 TB this is the transform->sink
    # stage boundary: one materialization of the stripped rows instead
    # of two strip passes over the source.
    df = df.localCheckpoint(eager=False)
    if num_files:
        ranged = df.repartitionByRange(num_files, F.col(pk))
    else:
        ranged = df.repartitionByRange(F.col(pk))
    writer = ranged.sortWithinPartitions(*parts).write.mode("overwrite")
    writer = writer.option("compression", compression)
    if bloom_filter:
        writer = writer.option(f"parquet.bloom.filter.enabled#{pk}", "true")
    writer.parquet(out)


def write_bucketed(df: DataFrame, table: str, key: str,
                   num_buckets: int = 32,
                   sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Bucketed catalog table: rows hash-partitioned into ``num_buckets``
    files by ``key`` and sorted within each bucket — the co-located-join
    layout. Two tables bucketed on the same key with the same bucket count
    join with NO shuffle on either side (the exchange is pre-paid once at
    write time), which is the decisive layout when a 100 TB fact table is
    joined repeatedly on the same key. tests/test_plans.py asserts the
    exchange-free join plan.

    ``path`` makes the table EXTERNAL at that location. Managed-table
    locations under spark-warehouse outlive the in-memory catalog entry
    (a new session forgets the table but finds the directory and refuses
    the name), so any caller that may run twice should pass a ``path`` it
    controls; either way a stale same-name catalog entry is dropped
    first."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(*(sort_cols or [key]))
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


# ---------------------------------------------------------------------------
# Z-order multi-dimensional clustering
# ---------------------------------------------------------------------------

def zorder_key_expr(c1: str, c2: str, bits: int = 31) -> str:
    """SQL expression interleaving the low ``bits`` bits of two NON-NEGATIVE
    integer columns into a Morton (Z-order) key: bit ``i`` of ``c1`` lands at
    position ``2i``, of ``c2`` at ``2i+1``. With the default 31 bits the top
    position is 61 — no sign-bit hazard. Pure integer arithmetic, identical
    in any ANSI engine (the DuckDB oracle runs the same formula).

    Dims should be pre-quantized to comparable ranges (rank/bucket first if
    magnitudes differ wildly — standard Z-order practice) or locality on the
    narrow dim is drowned by the wide one.
    """
    return (
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, i) -> acc"
        f" + shiftleft(shiftright(cast({c1} as bigint), i) & 1, 2 * i)"
        f" + shiftleft(shiftright(cast({c2} as bigint), i) & 1, 2 * i + 1))"
    )


def zorder_key_oracle_sql(c1: str, c2: str, bits: int = 31) -> str:
    """The same Morton interleave in DuckDB SQL (list_sum over a bit range)."""
    return (
        f"list_sum(list_transform(range(0, {bits}), i ->"
        f" ((({c1}::BIGINT >> i) & 1) << (2 * i))"
        f" + ((({c2}::BIGINT >> i) & 1) << (2 * i + 1))))::BIGINT"
    )


def write_partitioned(df: DataFrame, out: str, partition_cols: list[str], *,
                      sort_col: str | None = None,
                      compression: str = "zstd") -> None:
    """Hive-style partitioned layout: one directory per distinct value of
    ``partition_cols`` (``out/col=value/...``), so a filter on those columns
    prunes at the DIRECTORY level — no footer needs opening, the complement
    of the min/max pruning the sorted sink provides. The 100 TB layout rule:
    partition by the low-cardinality operational axes (date, source, type),
    range/Z-order INSIDE partitions by the query keys.

    Each task writes one file per partition value it holds, so repartition
    on ``partition_cols`` first — done here — to avoid the small-files
    explosion (tasks × partitions output files otherwise)."""
    ranged = df.repartition(*[F.col(c) for c in partition_cols])
    if sort_col is not None:
        ranged = ranged.sortWithinPartitions(*partition_cols, sort_col)
    (
        ranged.write.mode("overwrite")
        .option("compression", compression)
        .partitionBy(*partition_cols)
        .parquet(out)
    )


def compact_small_files(spark, in_dir: str, out_dir: str, *,
                        target_file_bytes: int = 128 << 20,
                        pk: str | None = None,
                        clustering: list[str] | None = None) -> int:
    """Small-files compaction — the standing housekeeping job of any
    long-lived table (streaming sinks and fine-grained ingests leave
    thousands of KB-scale files whose open/footer overhead eventually
    dominates scans; the reference's analog is SSTable compaction itself,
    the job its whole reader stack exists to serve). Reads ``in_dir``,
    computes the output file count from the ACTUAL input bytes over
    ``target_file_bytes``, and writes to ``out_dir`` — sorted via
    :func:`write_sorted` when ``pk`` is given (compaction is the natural
    moment to establish clustering), plain coalesce otherwise. Returns the
    target file count.

    Scale: the byte total comes from driver-side listing (planning
    metadata, same class as Spark's own file index); the coalesce path
    adds NO shuffle — it merges existing splits; the sorted path pays the
    one range shuffle that buys ordered, prunable output. New path, never
    in place — same keep-originals lifecycle as every sink here."""
    from pathlib import Path

    from cassandra_ttl_remover_spark.sources.scan import scan

    total = sum(
        f.stat().st_size for f in Path(in_dir).rglob("*.parquet") if f.is_file()
    )
    n = max(1, -(-total // target_file_bytes))
    df = scan(spark, in_dir)
    if pk is not None:
        write_sorted(df, out_dir, pk, clustering, num_files=n)
    else:
        df.coalesce(n).write.mode("overwrite").parquet(out_dir)
    return n


def write_zordered(df: DataFrame, out: str, c1: str, c2: str, *,
                   num_files: int = 32) -> None:
    """Write parquet clustered by the Z-order key of (``c1``, ``c2``): range
    partition + within-file sort on the interleaved key, so parquet min/max
    footers prune on BOTH dimensions — the layout a 100 TB table wants when
    queries filter on two independent columns (e.g. user and time). The
    reference's sink can only order by token (one dimension,
    Cassandra3TTLRemover.java:103); this is the genuinely-Spark upgrade.

    Scale: one range shuffle on the computed key (sampled bounds — balanced
    files under skew), key computed as a codegen'd projection.
    """
    zk = F.expr(zorder_key_expr(c1, c2))
    (
        df.withColumn("_zkey", zk)
        .repartitionByRange(num_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(out)
    )


def claim_table_writer(table_dir, kind: str) -> None:
    """Single-writer ownership for a versioned table: the first committer
    stamps a ``WRITER`` marker ('batch' | 'stream'); a committer of the
    OTHER kind raises instead of corrupting. The two lifecycles derive
    version names differently (batch: LATEST+1; streaming: the
    checkpoint's batch_id, which the replay guard string-compares), so a
    mixed-writer table would silently drop micro-batches — without a
    transaction log, one table has one writer lineage (the same stance
    lakehouse formats without a lock service take)."""
    from pathlib import Path

    import os

    base = Path(table_dir)
    base.mkdir(parents=True, exist_ok=True)
    marker = base / "WRITER"
    # Atomic claim: O_CREAT|O_EXCL means exactly one of two concurrent
    # first committers creates the marker; the loser falls through to the
    # owner check below (re-reading what the winner wrote) instead of
    # both stamping. A lost race between same-kind writers is a no-op.
    try:
        fd = os.open(marker, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    except FileExistsError:
        pass
    else:
        with os.fdopen(fd, "w") as fh:
            fh.write(kind)
        return
    owner = marker.read_text().strip()
    if owner != kind:
        raise ValueError(
            f"versioned table {table_dir!r} is owned by a {owner!r} "
            f"writer; committing from a {kind!r} writer would break "
            "its version numbering/replay contract — use a separate "
            "table_dir"
        )


def commit_table_version(df: DataFrame, table_dir: str, vname: str, *,
                         version_keep: int = 0) -> None:
    """Shared version-commit primitive for EVERY versioned-table writer
    (batch write_table_version, streaming LWW upsert, streaming CDC
    apply): write the data fully into ``<table_dir>/<vname>``, then swap
    the ``LATEST`` pointer atomically (os.replace), then prune to the
    newest ``version_keep`` versions (0 = keep all). Readers never
    observe a half-written table."""
    import os
    import shutil
    from pathlib import Path

    base = Path(table_dir)
    base.mkdir(parents=True, exist_ok=True)
    df.write.mode("overwrite").parquet(str(base / vname))
    tmp = base / "LATEST.tmp"
    tmp.write_text(vname)
    os.replace(tmp, base / "LATEST")
    if version_keep:
        versions = sorted(p.name for p in base.iterdir()
                          if p.is_dir() and p.name.startswith("v"))
        for old in versions[:-version_keep]:
            shutil.rmtree(base / old, ignore_errors=True)


def write_table_version(df: DataFrame, table_dir: str, *,
                        version_keep: int = 0) -> str:
    """Batch commit of a NEW version of a versioned table — the same
    layout the streaming LWW sink maintains (``vNNNN`` directories + an
    atomically-swapped ``LATEST`` pointer, streaming/ttl_stream.py), so
    :func:`~cassandra_ttl_remover_spark.streaming.ttl_stream.read_table_version`
    time-travels over both kinds. Returns the committed version name.

    One table, ONE writer lineage: batch and streaming writers derive
    version names differently, so mixing them on a single table_dir
    would confuse the streaming replay guard into dropping micro-batches
    — :func:`claim_table_writer` turns that mistake into a loud error.
    ``version_keep=0`` retains every version (time travel unbounded);
    N keeps the newest N.
    """
    from pathlib import Path

    base = Path(table_dir)
    base.mkdir(parents=True, exist_ok=True)
    claim_table_writer(table_dir, "batch")
    ptr = base / "LATEST"
    cur = ptr.read_text().strip() if ptr.exists() else None
    vname = f"v{(int(cur[1:]) + 1) if cur else 0:010d}"
    commit_table_version(df, table_dir, vname, version_keep=version_keep)
    return vname
