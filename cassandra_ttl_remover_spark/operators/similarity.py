"""Similarity search over embedding columns (north-star surface,
SURVEY.md §2.2): exact top-k as the baseline/oracle, LSH-bucketed and
IVF-style variants as the 100 TB scale path.

Scoring is the exact quantized-int dot product from operators/dedup.py
(QDOT_EXPR) so the exact path hash-matches the DuckDB oracle; true cosine
(float) is also provided for engine users. All vector math is JVM-side
higher-order functions — no Python in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from cassandra_ttl_remover_spark.operators.dedup import QDOT_EXPR, _bucket_pairs
from cassandra_ttl_remover_spark.plans import (checkpoint_partitioned, fan_out,
                                                local_frame)


def _query_vector_col(emb: DataFrame, query_id, vec_col: str, id_col: str):
    """The query vector as a broadcastable one-row frame."""
    return emb.filter(F.col(id_col) == F.lit(query_id)).select(
        F.col(vec_col).alias("_qv")
    )


def topk_dot(emb: DataFrame, query_id, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by quantized dot product against the vector of
    ``query_id``. Broadcast the query vector; score map-side; take the top-k
    with orderBy+limit, which Spark runs as TakeOrdered (per-partition heaps
    + driver merge of k rows — no global sort, no full shuffle).

    Ties broken by id for determinism. Excludes the query itself."""
    q = _query_vector_col(emb, query_id, vec_col, id_col)
    scored = (
        fan_out(emb, id_col).join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "dot")
    )
    return scored.orderBy(F.col("dot").desc(), F.col(id_col).asc()).limit(k)


def topk_dot_oracle_sql(query_id, k: int = 10, dim: int = 64,
                        table: str = "embeddings", id_col: str = "vec_id") -> str:
    qdot = (
        "list_sum(list_transform(range(1, {n}), i ->"
        " round(CAST({a}[i] AS DOUBLE) * 1000000.0)::BIGINT"
        " * round(CAST({b}[i] AS DOUBLE) * 1000000.0)::BIGINT))::BIGINT"
    ).format(n=dim + 1, a="e.embedding", b="q.embedding")
    return f"""
WITH q AS (SELECT embedding FROM {table} WHERE {id_col} = {query_id})
SELECT e.{id_col}, {qdot} AS dot
FROM {table} e CROSS JOIN q
WHERE e.{id_col} <> {query_id}
ORDER BY dot DESC, e.{id_col} ASC LIMIT {k}
"""


def topk_cosine(emb: DataFrame, query_id, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Float cosine top-k (engine surface; not oracle-hash-matched because
    float summation order is engine-specific)."""
    q = _query_vector_col(emb, query_id, vec_col, id_col)
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0.0d, (s, v) -> s + v)"
    nrm = "sqrt(aggregate({v}, 0.0d, (s, x) -> s + cast(x as double) * cast(x as double)))"
    return (
        emb.join(F.broadcast(q))
        .withColumn(
            "cosine",
            F.expr(dot.format(a=vec_col, b="_qv"))
            / (F.expr(nrm.format(v=vec_col)) * F.expr(nrm.format(v="_qv"))),
        )
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Scale paths
# ---------------------------------------------------------------------------

def rp_lsh_buckets(emb: DataFrame, planes: int = 16, seed: int = 42,
                   vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Sign-random-projection LSH: bucket = the sign-bit pattern of ``planes``
    pseudo-random hyperplanes. Hyperplane components are derived
    deterministically from xxhash64(seed, plane, dim) — no RNG state, so the
    bucketing is reproducible across runs/executors (critical for
    incremental 100 TB builds).

    Map-side only: each row computes its own bucket; the shuffle (if any)
    happens in the consumer's groupBy on the compact bucket int."""
    # component h in [-0.5, 0.5): (xxhash64 & mask)/mask - 0.5
    mask = (1 << 32) - 1
    comp = (
        f"(cast((xxhash64({seed}L, p, i) & {mask}) as double) / {mask}.0d - 0.5d)"
    )
    bucket = (
        f"aggregate(transform(sequence(0, {planes - 1}), p -> "
        f" if(aggregate(transform(sequence(1, size({vec_col})), i -> "
        f"   cast(element_at({vec_col}, i) as double) * {comp}),"
        f"  0.0d, (s, v) -> s + v) >= 0.0d, p, -1)),"
        f" 0L, (acc, p) -> acc + if(p >= 0, shiftleft(1L, p), 0L))"
    )
    return fan_out(emb, id_col).withColumn("bucket", F.expr(bucket))


def lsh_topk(emb: DataFrame, query_id, k: int = 10, planes: int = 12,
             probes: int = 0, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """ANN top-k: score only vectors in the query's LSH bucket (plus
    ``probes`` single-bit-flip neighbor buckets for recall). Candidate set
    shrinks ~2^-planes of the corpus; exact quantized scoring on candidates
    keeps results comparable with topk_dot for recall measurement."""
    b = rp_lsh_buckets(emb, planes, vec_col=vec_col, id_col=id_col)
    qrow = b.filter(F.col(id_col) == F.lit(query_id)).select(
        F.col(vec_col).alias("_qv"), F.col("bucket").alias("_qb")
    )
    cand = b.join(F.broadcast(qrow))
    if probes > 0:
        cand = cand.filter(
            F.expr(
                f"array_contains(array_union(array(_qb),"
                f" transform(sequence(0, {probes - 1}), p -> _qb ^ shiftleft(1L, p))),"
                f" bucket)"
            )
        )
    else:
        cand = cand.filter(F.col("bucket") == F.col("_qb"))
    return (
        cand.withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_pairs_lsh(emb: DataFrame, threshold: float = 0.9,
                                tables: int = 8, planes: int = 12,
                                seed: int = 42, max_bucket: int = 4096,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> DataFrame:
    """Bucketed embedding near-dup pairs — the 100 TB path for
    dedup.embedding_neardup_pairs (whose plain self-join is the small-n
    oracle surface).

    Candidate generation: ``tables`` independent sign-random-projection
    tables of ``planes`` hyperplanes each (the standard OR-of-ANDs LSH
    construction); a pair is a candidate iff it shares a (table, bucket)
    key. Hyperplanes derive from xxhash64(seed + table, plane, dim) — fully
    deterministic, reproducible across runs/executors. Pair expansion is
    per-bucket member-list expansion (dedup._bucket_pairs): one shuffle on
    the compact (table, bucket) key, no self-join, skew capped at
    ``max_bucket``.

    Verification: candidates are filtered with the SAME exact quantized
    predicate as the exact operator (dot > 0 ∧ dot² >= t²·|a|²·|b|² over
    1e-6-quantized int64s), so every emitted pair is exactly correct — LSH
    only affects RECALL, never precision. Tune (planes, tables) to the
    threshold: agreement probability per plane is 1 - angle/π, per-table
    recall is that to the ``planes``-th power, and overall recall is
    1-(1-r_table)^tables. For near-dup thresholds (>= 0.9) the defaults give
    >99% recall with ~2^-planes bucket occupancy."""
    mask = (1 << 32) - 1
    comp = f"(cast((xxhash64({seed}L + t, p, i) & {mask}) as double) / {mask}.0d - 0.5d)"
    bucket = (
        f"aggregate(transform(sequence(0, {planes - 1}), p -> "
        f" if(aggregate(transform(sequence(1, size({vec_col})), i -> "
        f"   cast(element_at({vec_col}, i) as double) * {comp}),"
        f"  0.0d, (s, v) -> s + v) >= 0.0d, p, -1)),"
        f" 0L, (acc, p) -> acc + if(p >= 0, shiftleft(1L, p), 0L))"
    )
    tb = f"transform(sequence(0, {tables - 1}), t -> struct(t as tbl, {bucket} as bh))"
    base = (
        fan_out(emb, id_col)
        .select(
            F.col(id_col),
            F.struct(
                F.col(vec_col).alias("v"),
                F.expr(QDOT_EXPR.format(a=vec_col, b=vec_col)).alias("nrm"),
            ).alias("payload"),
            F.explode(F.expr(tb)).alias("bb"),
        )
        .select(id_col, "payload", F.col("bb.tbl").alias("tbl"), F.col("bb.bh").alias("bh"))
    )
    cand = _bucket_pairs(base, id_col, "payload", ["tbl", "bh"], max_bucket)
    t2 = threshold * threshold
    return (
        cand.withColumn("dot", F.expr(QDOT_EXPR.format(a="siga.v", b="sigb.v")))
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("double") * F.col("dot").cast("double")
                >= F.lit(t2)
                * F.col("siga.nrm").cast("double")
                * F.col("sigb.nrm").cast("double")
            )
        )
        .select("a", "b", "dot")
    )


#: squared L2 distance between two float vectors, in doubles.
_L2_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))),"
    " 0.0d, (s, v) -> s + v)"
)


def _assign_cells(emb: DataFrame, cent_df, vec_col: str,
                  id_col: str) -> DataFrame:
    """Shared IVF assignment rule (argmin L2 against the broadcast
    centroid table) — index builds and incremental appends MUST use the
    same rule or probed queries miss appended vectors."""
    scored = fan_out(emb, id_col).join(F.broadcast(cent_df)).withColumn(
        "_d2", F.expr(_L2_EXPR.format(a=vec_col, b="cvec"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.min_by("cell", "_d2").alias("cell"))
        .join(emb, id_col)
    )


def ivf_index(emb: DataFrame, n_cells: int = 16, vec_col: str = "embedding",
              id_col: str = "vec_id") -> tuple[list, DataFrame]:
    """IVF coarse quantizer: centroids are the vectors of the ``n_cells``
    ids with the smallest xxhash64(id) — a deterministic pseudo-random
    sample, no RNG state, reproducible across runs/executors (the property
    that matters for incremental 100 TB index builds).

    Returns ``(centroids, assigned)``: centroids as a driver-side list of
    (cell, vector) — an O(n_cells) dim table, the only driver state — and
    ``assigned`` = the corpus with an argmin-L2 ``cell`` column (computed
    map-side against the broadcast centroid table; one groupBy on id).
    """
    spark = emb.sparkSession
    seeds = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    centroids = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seeds)]
    cent_df = local_frame(spark,
        centroids, f"cell int, cvec {emb.schema[vec_col].dataType.simpleString()}"
    )
    return centroids, _assign_cells(emb, cent_df, vec_col, id_col)


def ivf_topk(emb: DataFrame, query_id, k: int = 10, n_cells: int = 16,
             nprobe: int = 4, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` cells whose centroids are nearest
    the query, score only their inverted lists with the exact quantized dot
    product. ``nprobe == n_cells`` degenerates to exact search (asserted in
    tests); smaller nprobe trades recall for a ~n_cells/nprobe scan
    reduction. At scale, ``assigned`` is the materialized index (write once,
    bucket by cell); each query touches only its probed buckets."""
    centroids, assigned = ivf_index(emb, n_cells, vec_col, id_col)
    qrow = emb.filter(F.col(id_col) == F.lit(query_id)).select(vec_col).collect()
    if not qrow:
        raise KeyError(f"query id {query_id!r} not found")
    qv = [float(x) for x in qrow[0][vec_col]]
    by_dist = sorted(
        centroids, key=lambda c: sum((a - b) ** 2 for a, b in zip(c[1], qv))
    )
    probes = [c[0] for c in by_dist[:nprobe]]
    q = emb.filter(F.col(id_col) == F.lit(query_id)).select(
        F.col(vec_col).alias("_qv")
    )
    return (
        assigned.filter(F.col("cell").isin(probes))
        .join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_write(emb: DataFrame, path: str, n_cells: int = 16,
              vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Materialize the IVF index: the cell-assigned corpus written
    ``partitionBy("cell")`` (one directory per inverted list) plus the tiny
    centroid table under ``<path>/_centroids``. This is the write-once index
    shape a 100 TB ANN deployment serves from — each query later touches
    only its probed cells via PARTITION PRUNING, never the full corpus."""
    centroids, assigned = ivf_index(emb, n_cells, vec_col, id_col)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    local_frame(emb.sparkSession,
        centroids, f"cell int, cvec {emb.schema[vec_col].dataType.simpleString()}"
    ).write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_append(spark, path: str, new_emb: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Incremental IVF ingest: assign a NEW batch of vectors against the
    index's FROZEN centroid table and append to the cell partitions — no
    rebuild, no touch of existing inverted lists (parquet append adds
    files inside each ``cell=`` directory).

    Freezing the coarse quantizer is the standard IVF ingest contract:
    recall of the probed search depends only on each vector sitting in its
    true nearest cell, which stays true under append because assignment
    uses the same centroids queries probe with. Re-train (ivf_write) only
    when drift makes cells unbalanced — the cell-size census is one
    ``groupBy("cell").count()`` away.

    Scale: the append shuffles ONLY the new batch (centroids broadcast,
    one groupBy on the batch's ids); a 100 TB index absorbs a daily batch
    at the cost of the batch, not the corpus."""
    cent_df = spark.read.parquet(f"{path}/_centroids")
    _assign_cells(new_emb, cent_df, vec_col, id_col) \
        .write.mode("append").partitionBy("cell").parquet(path)


def ivf_census(spark, path: str, *, id_col: str = "vec_id") -> DataFrame:
    """Inverted-list balance report for a materialized IVF index:
    ``(cell, n_vectors, n_dead)`` per cell — the retrain signal
    ivf_append's frozen-centroid contract defers to (drifted ingest
    shows up as a few cells absorbing everything; rebuild with
    ivf_write when the skew hurts probe cost) plus the GC signal
    (``n_dead`` tombstoned rows per cell — the droppable census;
    :func:`ivf_compact` when the dead fraction hurts probe cost).
    Reads the id/cell columns only — vector data is never touched."""
    idx = spark.read.parquet(path)
    tombs = _index_tombstones(spark, path)
    if tombs is None:
        dead = F.lit(False)
        joined = idx
    else:
        joined = idx.join(
            F.broadcast(tombs.select(id_col).distinct()
                        .withColumn("_dead", F.lit(True))),
            id_col, "left")
        dead = F.coalesce(F.col("_dead"), F.lit(False))
    return (
        joined
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_vectors"),
            F.count_if(dead).alias("n_dead"),
        )
    )


def _index_tombstones(spark, path: str):
    """A materialized index's deletion-vector sidecar
    (``<path>/_tombstones``, hidden from index scans by the underscore
    convention), or None when no delete has ever landed — shared by the
    IVF and PQ indexes."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{path}/_tombstones")
    except AnalysisException:
        return None


def _empty_tombstones(spark, id_col: str):
    """A 0-row frame of the sidecar schema — written (not limit(0) of
    the old sidecar, whose files a compaction overwrite may have just
    deleted; that form only worked via the OptimizeLimitZero rule)."""
    return local_frame(spark, [], f"{id_col} bigint, deleted_at bigint")


def _index_delete(spark, path: str, ids: list, id_col: str,
                  deleted_at: int = 0) -> None:
    """Append ``(id, deleted_at)`` rows to an index's ``_tombstones``
    sidecar — the ONE place the sidecar schema and write convention
    live (ivf_delete and pq_delete share it, as _index_tombstones is
    the shared reader). ``deleted_at`` is caller-supplied (µs since
    epoch by convention) and defaults to 0 so sidecar bytes stay
    deterministic across runs; pass a real timestamp only when a
    grace-period reader (TTL-style tombstone gc) will consume it —
    stamping wall-clock time here unconditionally made the sidecar
    nondeterministic for no reader's benefit."""
    if not ids:
        return
    local_frame(spark,
        [(i, deleted_at) for i in ids], f"{id_col} bigint, deleted_at bigint"
    ).coalesce(1).write.mode("append").parquet(f"{path}/_tombstones")


def ivf_delete(spark, path: str, ids: list, *,
               id_col: str = "vec_id", deleted_at: int = 0) -> None:
    """Delete vectors from a materialized IVF index WITHOUT touching the
    inverted lists: append ``(id, deleted_at)`` rows to the
    ``_tombstones`` sidecar — the deletion-vector pattern (and the
    storage stance of the reference's domain: a delete is DATA, written
    beside the values it shadows, reconciled at read and purged at
    compaction — SURVEY §1.2). Queries anti-join the sidecar
    (:func:`ivf_query` ``honor_tombstones``); :func:`ivf_compact` is
    the gc that rewrites only the affected cells and empties the
    sidecar. O(len(ids)) write, index files untouched."""
    _index_delete(spark, path, ids, id_col, deleted_at)


def ivf_compact(spark, path: str, *, id_col: str = "vec_id") -> int:
    """Garbage-collect a materialized IVF index: rewrite ONLY the cell
    partitions that contain tombstoned ids (dynamic partition overwrite
    — untouched inverted lists keep their files, the Cassandra
    single-table-GC stance applied to a vector index), then empty the
    ``_tombstones`` sidecar. Returns the number of cells rewritten.

    Scale: finding affected cells reads the (id, cell) columns only;
    the rewrite reads and writes just those cells. A delete-heavy day
    compacts at the cost of the touched lists, never the corpus.

    A cell whose every vector is tombstoned has NO survivor rows, so
    dynamic partition overwrite (which only replaces partitions present
    in the written data) would leave its old files in place while the
    sidecar below is emptied — resurrecting the deleted vectors. The
    per-cell census therefore splits affected cells into rewrites
    (survivors remain) and directory deletes (fully dead). Edge:
    deleting EVERY vector would leave an index with no list files at
    all (readers would raise on schema inference), so when no cell
    survives the compaction writes a zero-row SCHEMA-KEEPER list at
    ``cell=-1`` — a synthetic cell no centroid maps to, invisible to
    queries and censuses (0 rows) but carrying the data-file schema, so
    the emptied index stays readable and :func:`ivf_query` returns an
    empty top-k frame instead of raising."""
    tombs = _index_tombstones(spark, path)
    if tombs is None or tombs.isEmpty():
        return 0
    dead = F.broadcast(tombs.select(id_col).distinct())
    idx = spark.read.parquet(path)
    # one census pass, two bounded consumers: the AFFECTED rows collect
    # to the driver (touched-cells-sized, never O(n_cells) — a
    # single-id delete on a million-cell index must not pull a million
    # census rows), and a 1-row aggregate answers "does any live row
    # survive anywhere" for the keeper decision
    census_df = (
        idx.join(dead.withColumn("_dead", F.lit(True)), id_col, "left")
        .groupBy("cell")
        .agg(
            F.count_if(F.coalesce(F.col("_dead"), F.lit(False))).alias("n_dead"),
            F.count_if(F.col("_dead").isNull()).alias("n_live"),
        )
        .localCheckpoint(eager=False)
    )
    census = census_df.filter(F.col("n_dead") > 0).collect()
    any_live = bool(
        census_df.agg(F.sum("n_live").alias("t")).first().t or 0)
    affected = [int(r.cell) for r in census]
    fully_dead = [int(r.cell) for r in census if r.n_live == 0]
    rewrite = [c for c in affected if c not in set(fully_dead)]
    if rewrite:
        survivors = (
            idx.filter(F.col("cell").isin(rewrite))
            .join(dead, id_col, "left_anti")
        )
        (survivors.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("cell").parquet(path))
    for c in fully_dead:
        _fs_delete(spark, f"{path}/cell={c}")
    if not any_live:
        # every inverted list is gone — keep the index readable with a
        # zero-row keeper carrying the data-file schema (idx's schema
        # minus the `cell` partition directory column)
        from pyspark.sql.types import StructType

        data_schema = StructType(
            [f for f in idx.schema.fields if f.name != "cell"])
        (local_frame(spark, [], data_schema).repartition(1)
         .write.mode("overwrite").parquet(f"{path}/cell=-1"))
    # empty sidecar: overwrite with a 0-row frame of the same schema
    _empty_tombstones(spark, id_col).coalesce(1).write.mode(
        "overwrite").parquet(f"{path}/_tombstones")
    return len(affected)


def ivf_query(spark, path: str, query_vec: list[float], k: int = 10,
              nprobe: int = 4, vec_col: str = "embedding",
              id_col: str = "vec_id", *,
              honor_tombstones: bool = True) -> DataFrame:
    """Query a materialized IVF index: read the O(n_cells) centroid table,
    pick the ``nprobe`` nearest cells driver-side, and scan ONLY those cell
    partitions (`cell IN (...)` prunes at the directory level — the plan's
    PartitionFilters prove the other inverted lists are never read). Exact
    quantized scoring on the probed candidates, same ordering contract as
    topk_dot. Deleted vectors (:func:`ivf_delete`) are filtered via a
    broadcast anti-join against the tombstone sidecar — reconcile-at-read
    until :func:`ivf_compact` purges them.

    An index emptied by delete-all + compact stays readable via the
    zero-row schema keeper :func:`ivf_compact` leaves, and this query
    returns an empty frame through the normal plan. Indexes emptied by
    an OLDER compaction (no keeper, no list files) are caught at schema
    inference and answered with the same empty ``(id, dot)`` frame —
    a legal API sequence never ends in a reader crash."""
    from pyspark.errors import AnalysisException

    cent = spark.read.parquet(f"{path}/_centroids").collect()
    by_dist = sorted(
        cent,
        key=lambda r: sum((float(a) - b) ** 2 for a, b in zip(r["cvec"], query_vec)),
    )
    probes = [int(r["cell"]) for r in by_dist[:nprobe]]
    qdf = local_frame(spark, [(query_vec,)], f"_qv array<float>")
    try:
        # the guard translates ONLY schema-inference failure on an
        # emptied index into an empty result; every other
        # AnalysisException (a typo'd/nonexistent path raises
        # PATH_NOT_FOUND — a caller bug; unresolvable columns or
        # schema-merge conflicts — index corruption) must raise, not
        # read as "no matches" (r11 ADVICE: the broad handler masked
        # caller bugs)
        idx_scan = spark.read.parquet(path)
    except AnalysisException as e:
        cond = (e.getCondition() if hasattr(e, "getCondition")
                else e.getErrorClass())
        if cond != "UNABLE_TO_INFER_SCHEMA":
            raise
        # no list files at all (pre-keeper emptied index) — empty top-k
        return local_frame(spark, [], f"{id_col} bigint, dot bigint")
    scan = idx_scan.filter(F.col("cell").isin(probes))
    if honor_tombstones:
        tombs = _index_tombstones(spark, path)
        if tombs is not None:
            scan = scan.join(
                F.broadcast(tombs.select(id_col).distinct()),
                id_col, "left_anti")
    return (
        scan
        .join(F.broadcast(qdf))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ann_recall(exact: DataFrame, approx: DataFrame, id_col: str = "vec_id") -> float:
    """Recall of an ANN result vs the exact top-k (driver-side; both inputs
    are k-row frames)."""
    e = {r[id_col] for r in exact.collect()}
    a = {r[id_col] for r in approx.collect()}
    return len(e & a) / max(1, len(e))


# ---------------------------------------------------------------------------
# Group centroids + nearest-centroid assignment (the k-means E-step)
# ---------------------------------------------------------------------------

#: 1e-6-quantized int64 copy of a float vector (same scale as QDOT_EXPR).
QVEC_EXPR = (
    "transform({v}, x -> cast(round(cast(x as double) * 1000000.0d) as bigint))"
)


def group_centroids(emb: DataFrame, group_col: str = "label",
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-group mean embedding, one row per (group, dimension):
    ``(group_col, dim, n_vectors, sum_q, mean_q)`` with ``sum_q`` the EXACT
    int64 sum of 1e-6-quantized components (``dim`` 1-based) and ``mean_q``
    the single-division mean — engine-portable, so it hash-matches the
    oracle. The row form (group × dim) rather than an array keeps the
    output streamable and the agg a plain two-key groupBy.

    Scale: posexplode (n·d rows of 3 compact columns) -> ONE map-side-
    combined agg keyed by (group, dim) — cardinality |groups|·d, tiny;
    no skew (every vector contributes to every dim)."""
    return (
        fan_out(emb, id_col)
        .select(
            F.col(group_col),
            F.posexplode(F.expr(QVEC_EXPR.format(v=vec_col))).alias("_p", "_xq"),
        )
        .groupBy(group_col, (F.col("_p") + 1).cast("int").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum("_xq").cast("long").alias("sum_q"),
        )
        .withColumn("mean_q", F.col("sum_q") / F.col("n_vectors"))
    )


def embedding_norms(emb: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Per-vector L2 norm — the normalize-before-cosine prerequisite every
    embedding pipeline runs. Exactness construction: the sum of squares is
    an int64 fold over the 1e-6-quantized components (exact, associative —
    64 dims × 1e12/term stays far under 2^63), and the only float op is the
    final correctly-rounded sqrt, so the result hash-matches the oracle.
    Returns ``(id_col, ssq, l2_norm)``.

    Scale: pure per-row projection after :func:`plans.fan_out` — zero
    shuffle at any corpus size."""
    qv = QVEC_EXPR.format(v=vec_col)
    return (
        fan_out(emb.select(id_col, vec_col), id_col)
        .select(
            F.col(id_col),
            F.expr(f"aggregate({qv}, 0L, (acc, x) -> acc + x * x)").alias("ssq"),
        )
        .withColumn("l2_norm", F.expr("sqrt(cast(ssq as double)) / 1000000.0d"))
    )


def embedding_norms_oracle_sql(table: str = "embeddings",
                               id_col: str = "vec_id") -> str:
    return f"""
WITH x AS (
  SELECT {id_col},
         round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS xq
  FROM {table}
)
SELECT {id_col}, sum(xq * xq)::BIGINT AS ssq,
       sqrt(sum(xq * xq)::BIGINT::DOUBLE) / 1000000.0 AS l2_norm
FROM x GROUP BY {id_col} ORDER BY {id_col}
"""


def group_centroids_oracle_sql(group_col: str = "label",
                               table: str = "embeddings") -> str:
    return f"""
WITH x AS (
  SELECT {group_col},
         generate_subscripts(embedding, 1)::INT AS dim,
         round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS xq
  FROM {table}
)
SELECT {group_col}, dim, count(*)::BIGINT AS n_vectors,
       sum(xq)::BIGINT AS sum_q,
       (sum(xq)::BIGINT / count(*)::BIGINT::DOUBLE) AS mean_q
FROM x GROUP BY {group_col}, dim ORDER BY {group_col}, dim
"""


def assign_nearest_centroid(emb: DataFrame, group_col: str = "label",
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Assign every vector to the group whose MEAN embedding it most aligns
    with (max mean-centroid dot product — the spherical k-means E-step, and
    as a diagnostic: label-coherence scoring of an embedding column).
    Returns ``(id_col, group_col, assigned, is_match)``.

    Exactness: score_g = (x_q · sum_g) / n_g — the integer dot is exact
    (and < 2^53, so its double image is too), one IEEE division per group,
    ties broken by group asc. Everything hash-matches the ANSI oracle.

    Scale: the centroid table is |groups| × d longs — broadcast; scoring is
    a zero-shuffle projection per vector over the broadcast array; the
    argmax is ``max_by`` inside a single groupBy on the vector id (already
    the partitioning of the explode-free plan — no extra exchange needed
    beyond one agg)."""
    cent = (
        group_centroids(emb, group_col, vec_col, id_col)
        .groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "sum_q"))
            ).alias("_cs"),
            F.first("n_vectors").alias("_n"),
        )
        .select(
            F.col(group_col).alias("_cg"),
            F.expr("transform(_cs, s -> s.sum_q)").alias("_cvec"),
            "_n",
        )
    )
    scored = (
        fan_out(emb, id_col)
        .select(id_col, group_col, F.expr(QVEC_EXPR.format(v=vec_col)).alias("_xq"))
        .join(F.broadcast(cent))
        .withColumn(
            "_dot",
            F.expr(
                "aggregate(zip_with(_xq, _cvec, (a, b) -> a * b), 0L, (s, v) -> s + v)"
            ),
        )
        .withColumn("_score", F.col("_dot").cast("double") / F.col("_n"))
    )
    best = (
        scored.groupBy(id_col, group_col)
        .agg(
            F.min(
                F.struct((-F.col("_score")).alias("ns"), F.col("_cg").alias("g"))
            ).alias("_b")
        )
        .select(
            id_col,
            group_col,
            F.col("_b.g").alias("assigned"),
            (F.col("_b.g") == F.col(group_col)).alias("is_match"),
        )
    )
    return best


def assign_nearest_centroid_oracle_sql(group_col: str = "label",
                                       table: str = "embeddings",
                                       id_col: str = "vec_id") -> str:
    return f"""
WITH comp AS (
  SELECT {group_col} AS cg,
         generate_subscripts(embedding, 1) AS dim,
         round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS xq
  FROM {table}
),
cent0 AS (
  SELECT cg, dim, sum(xq) AS sum_q FROM comp GROUP BY cg, dim
),
cn AS (SELECT {group_col} AS cg, count(*)::BIGINT AS n FROM {table} GROUP BY cg),
cent AS (
  SELECT cg, list(sum_q ORDER BY dim) AS cvec FROM cent0 GROUP BY cg
),
x AS (
  SELECT {id_col}, {group_col},
         list_transform(embedding, v -> round(v::DOUBLE * 1000000)::BIGINT) AS xq
  FROM {table}
),
scored AS (
  SELECT x.{id_col}, x.{group_col}, cent.cg,
         (list_sum(list_transform(range(1, len(xq) + 1),
            i -> xq[i] * cvec[i]))::BIGINT)::DOUBLE / cn.n AS score
  FROM x CROSS JOIN cent JOIN cn ON cn.cg = cent.cg
),
ranked AS (
  SELECT {id_col}, {group_col}, cg,
         row_number() OVER (PARTITION BY {id_col}
                            ORDER BY score DESC, cg ASC) AS rn
  FROM scored
)
SELECT {id_col}, {group_col}, cg AS assigned,
       (cg = {group_col}) AS is_match
FROM ranked WHERE rn = 1 ORDER BY {id_col}
"""


def kmeans_labels(emb: DataFrame, iters: int = 2, group_col: str = "label",
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Lloyd's k-means for ``iters`` iterations, warm-started from the
    existing ``group_col`` assignment (cluster g := mean of label-g
    vectors), alternating the exact quantized E-step
    (:func:`assign_nearest_centroid` semantics) with the exact M-step
    (integer component sums). Returns ``(id_col, cluster)`` — the
    assignment after the last E-step.

    Determinism: every step is integer sums + one IEEE division + argmax
    with asc tie-break, so a FIXED iteration count is hash-matchable
    against an unrolled-CTE ANSI oracle (kmeans_oracle_sql) — rare for an
    iterative ML loop and the point of the construction.

    Scale: per iteration ONE broadcast join (k×d centroid longs) + one
    groupBy(id) argmax + one (cluster, dim) re-agg. The driver holds no
    per-vector state; lineage grows linearly with iters (fine for the
    small fixed counts this is for — checkpoint beyond ~10).
    """
    assigned = emb.select(
        F.col(id_col), F.col(group_col).cast("long").alias("cluster"),
        F.expr(QVEC_EXPR.format(v=vec_col)).alias("_xq"),
    )
    for _ in range(iters):
        cent = (
            assigned.select("cluster", F.posexplode("_xq").alias("_p", "_c"))
            .groupBy("cluster", "_p")
            .agg(F.sum("_c").alias("_s"), F.count("*").alias("_n"))
            .groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(_p, _s))), x -> x._s)"
                ).alias("_cvec"),
                F.first("_n").alias("_n"),
            )
            .select(F.col("cluster").alias("_cg"), "_cvec", "_n")
        )
        assigned = (
            assigned.select(id_col, "_xq")
            .join(F.broadcast(cent))
            .withColumn(
                "_dot",
                F.expr(
                    "aggregate(zip_with(_xq, _cvec, (a, b) -> a * b), 0L,"
                    " (s, v) -> s + v)"
                ),
            )
            .withColumn("_score", F.col("_dot").cast("double") / F.col("_n"))
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct((-F.col("_score")).alias("ns"), F.col("_cg").alias("g"))
                ).alias("_b"),
                F.first("_xq").alias("_xq"),
            )
            .select(id_col, F.col("_b.g").alias("cluster"), "_xq")
        )
    return assigned.select(id_col, "cluster")


def kmeans_oracle_sql(iters: int = 2, group_col: str = "label",
                      table: str = "embeddings",
                      id_col: str = "vec_id") -> str:
    """The same fixed-iteration Lloyd loop UNROLLED into chained CTEs."""
    ctes = [f"""x AS (
  SELECT {id_col},
         list_transform(embedding, v -> round(v::DOUBLE * 1000000)::BIGINT) AS xq
  FROM {table}
)""", f"""a0 AS (
  SELECT {id_col}, {group_col}::BIGINT AS cluster FROM {table}
)"""]
    for i in range(iters):
        prev, cur = f"a{i}", f"a{i + 1}"
        ctes.append(f"""comp{i} AS (
  SELECT {prev}.cluster, generate_subscripts(x.xq, 1) AS dim, unnest(x.xq) AS c
  FROM x JOIN {prev} USING ({id_col})
)""")
        ctes.append(f"""cent{i}0 AS (
  SELECT cluster, dim, sum(c) AS s FROM comp{i} GROUP BY cluster, dim
)""")
        ctes.append(f"""cn{i} AS (
  SELECT cluster, count(*)::BIGINT AS n FROM {prev} GROUP BY cluster
)""")
        ctes.append(f"""cent{i} AS (
  SELECT cluster, list(s ORDER BY dim) AS cvec FROM cent{i}0 GROUP BY cluster
)""")
        ctes.append(f"""sc{i} AS (
  SELECT x.{id_col}, cent{i}.cluster,
         (list_sum(list_transform(range(1, len(x.xq) + 1),
            j -> x.xq[j] * cent{i}.cvec[j]))::BIGINT)::DOUBLE / cn{i}.n AS score
  FROM x CROSS JOIN cent{i} JOIN cn{i} ON cn{i}.cluster = cent{i}.cluster
)""")
        ctes.append(f"""{cur} AS (
  SELECT {id_col}, cluster FROM (
    SELECT {id_col}, cluster,
           row_number() OVER (PARTITION BY {id_col}
                              ORDER BY score DESC, cluster ASC) AS rn
    FROM sc{i}
  ) WHERE rn = 1
)""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT {id_col}, cluster FROM a{iters} ORDER BY {id_col}"
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-bounded semantic deduplication
# ---------------------------------------------------------------------------

def semdedup(emb: DataFrame, threshold: float = 0.9,
             group_col: str = "label", vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest group centroid, generate cosine
    pairs only WITHIN each cluster, and drop every vector whose cosine to a
    lower-id cluster-mate is >= ``threshold``. Returns
    ``(id_col, cluster, keep)`` for every input vector.

    The whole point of the construction is the scale bound: the candidate
    self-join is per-cluster, so pair cardinality is sum(c_i^2) over
    cluster sizes instead of n^2 — at 100 TB with k clusters of balanced
    size that is a k-fold reduction, and the cluster id is the shuffle key
    (one exchange each side; skew bounded by the largest cluster, which the
    k-means step itself controls). Centroids are a broadcast table
    (|groups| x d longs); vectors never leave the JVM.

    Exactness: same quantized-int cosine predicate as
    :func:`cassandra_ttl_remover_spark.operators.dedup.embedding_neardup_pairs`
    (dot > 0 and dot^2 >= t^2 * |a|^2 * |b|^2 with exact int64 dot/norms,
    compared through their exact double images), over the hash-matchable
    nearest-centroid assignment — so the full pipeline is oracle-exact.
    """
    # Quantize ONCE (r12): a single fanned-out scan materializes the
    # (id, group, xq, nrm) frame, and the centroid table, the
    # nearest-centroid assignment AND the pair stage all derive from it.
    # Before, assign_nearest_centroid and the pair path each re-read and
    # re-quantized the embedding table (3 scans, 3 QVEC passes — one of
    # them the 2.8 s single-task centroid-scoring stage at sf0.1). The
    # derivations below are the exact group_centroids /
    # assign_nearest_centroid integer arithmetic over the same quantized
    # values, so the assignment — and the declared output — is unchanged.
    q0 = (
        fan_out(emb, id_col)
        .select(
            F.col(id_col), F.col(group_col),
            F.expr(QVEC_EXPR.format(v=vec_col)).alias("xq"),
        )
        .withColumn(
            "nrm",
            F.expr("aggregate(zip_with(xq, xq, (x, y) -> x * y), 0L,"
                   " (s, v) -> s + v)"),
        )
        .localCheckpoint(eager=False)
    )
    cent = (
        q0.select(F.col(group_col), F.posexplode("xq").alias("_p", "_c"))
        .groupBy(group_col, "_p")
        .agg(F.sum("_c").alias("_s"), F.count("*").alias("_n"))
        .groupBy(group_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(_p, _s))), x -> x._s)"
            ).alias("_cvec"),
            F.first("_n").alias("_n"),
        )
        .select(F.col(group_col).alias("_cg"), "_cvec", "_n")
    )
    assigned = (
        q0.select(id_col, F.col("xq").alias("_xq"))
        .join(F.broadcast(cent))
        .withColumn(
            "_dot",
            F.expr("aggregate(zip_with(_xq, _cvec, (a, b) -> a * b), 0L,"
                   " (s, v) -> s + v)"),
        )
        .withColumn("_score", F.col("_dot").cast("double") / F.col("_n"))
        .groupBy(id_col)
        .agg(F.min(
            F.struct((-F.col("_score")).alias("ns"), F.col("_cg").alias("g"))
        ).alias("_b"))
        .select(id_col, F.col("_b.g").alias("cluster"))
    )
    # The cluster-keyed NUMBERED repartition moves INTO the checkpoint
    # (r13), built with checkpoint_partitioned so the hashpartitioning
    # survives into the LogicalRDD: BOTH pair sides then derive
    # co-partitioned from the one materialization — no per-side
    # repartition, and the pair probe can never be a 1-partition
    # AQE-coalesced checkpoint (the r12-shape left `b` unpartitioned, so
    # whenever the planner broadcast the repartitioned `a`, the whole
    # quadratic dot-product stage serialized onto the checkpoint's single
    # coalesced task — observed 2.8 s/1 task in the r13 profile). At
    # scale neither side broadcasts and the cluster-keyed join reuses
    # this one exchange on both sides. Effective parallelism is
    # min(n, #clusters) — at scale k grows with the corpus (SemDeDup
    # uses ~sqrt(n) clusters), so cluster count is the real ceiling.
    npart = emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    q = checkpoint_partitioned(
        q0.select(id_col, "xq", "nrm").join(assigned, id_col)
        .repartition(int(npart), "cluster")
    )
    a = q.select(F.col(id_col).alias("a"), F.col("cluster"),
                 F.col("xq").alias("xa"), F.col("nrm").alias("na"))
    b = q.select(F.col(id_col).alias("b"), F.col("cluster"),
                 F.col("xq").alias("xb"), F.col("nrm").alias("nb"))
    t2 = threshold * threshold
    dropped = (
        a.join(b, ["cluster"])
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(xa, xb, (x, y) -> x * y), 0L,"
                   " (s, v) -> s + v)"),
        )
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("double") * F.col("dot").cast("double")
                >= F.lit(t2) * F.col("na").cast("double") * F.col("nb").cast("double")
            )
        )
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return (
        q.select(id_col, "cluster")
        .join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def semdedup_oracle_sql(threshold: float = 0.9, group_col: str = "label",
                        table: str = "embeddings",
                        id_col: str = "vec_id") -> str:
    """The same cluster -> within-cluster-pairs -> prune pipeline in ANSI
    SQL, reusing the nearest-centroid oracle as the assignment CTE."""
    asg = assign_nearest_centroid_oracle_sql(group_col, table, id_col)
    qdot = (
        "list_sum(list_transform(range(1, len({a}) + 1), i ->"
        " round(CAST({a}[i] AS DOUBLE) * 1000000.0)::BIGINT"
        " * round(CAST({b}[i] AS DOUBLE) * 1000000.0)::BIGINT))::BIGINT"
    )
    t2 = threshold * threshold
    return f"""
WITH asg AS ({asg}),
q AS (
  SELECT e.{id_col}, asg.assigned AS cluster, e.embedding AS v,
         {qdot.format(a='e.embedding', b='e.embedding')} AS nrm
  FROM {table} e JOIN asg ON asg.{id_col} = e.{id_col}
),
dropped AS (
  SELECT DISTINCT y.{id_col}
  FROM q x JOIN q y ON x.cluster = y.cluster AND x.{id_col} < y.{id_col}
  WHERE {qdot.format(a='x.v', b='y.v')} > 0
    AND CAST({qdot.format(a='x.v', b='y.v')} AS DOUBLE)
        * CAST({qdot.format(a='x.v', b='y.v')} AS DOUBLE)
        >= {t2} * CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)
)
SELECT q.{id_col}, q.cluster,
       (dropped.{id_col} IS NULL) AS keep
FROM q LEFT JOIN dropped ON dropped.{id_col} = q.{id_col}
ORDER BY q.{id_col}
"""


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training pair selection)
# ---------------------------------------------------------------------------

def hard_negatives(emb: DataFrame, anchor_ids: list, k: int = 3,
                   dup_threshold: float = 0.9,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """For each anchor, the k most-similar vectors that are NOT near-dups
    (cosine < ``dup_threshold``) — the hard negatives a contrastive
    trainer wants: close enough to be informative, far enough to be true
    negatives. Returns ``(anchor, negative, dot, rank)``.

    Ranking is by true cosine DESC (ties by id asc). The near-dup
    exclusion reuses the exact integer predicate (dot² >= t²·|a|²·|b|²),
    and the cosine ordering key ``dot / sqrt(|a|²·|b|²)`` is one IEEE
    division of exact-integer-derived doubles — sqrt is correctly rounded
    by both engines, so rank and hash match the ANSI oracle.

    Scale: anchors are a BROADCAST table (bounded list — mine per
    training batch, not per corpus); scoring is a zero-shuffle projection
    over the corpus scan; the only exchange is the per-anchor top-k
    window, keyed by anchor. Corpus vectors never shuffle.
    """
    anchors = (
        emb.filter(F.col(id_col).isin(anchor_ids))
        .select(
            F.col(id_col).alias("anchor"),
            F.expr(QVEC_EXPR.format(v=vec_col)).alias("_aq"),
        )
        .withColumn(
            "_an",
            F.expr("aggregate(zip_with(_aq, _aq, (x, y) -> x * y), 0L,"
                   " (s, v) -> s + v)"),
        )
    )
    cand = (
        fan_out(emb, id_col)
        .select(
            F.col(id_col).alias("negative"),
            F.expr(QVEC_EXPR.format(v=vec_col)).alias("_bq"),
        )
        .withColumn(
            "_bn",
            F.expr("aggregate(zip_with(_bq, _bq, (x, y) -> x * y), 0L,"
                   " (s, v) -> s + v)"),
        )
    )
    t2 = dup_threshold * dup_threshold
    scored = (
        cand.join(F.broadcast(anchors), F.col("anchor") != F.col("negative"))
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(_aq, _bq, (x, y) -> x * y), 0L,"
                   " (s, v) -> s + v)"),
        )
        # exclude near-duplicates of the anchor (would be false negatives)
        .filter(
            ~(
                (F.col("dot") > 0)
                & (
                    F.col("dot").cast("double") * F.col("dot").cast("double")
                    >= F.lit(t2)
                    * F.col("_an").cast("double") * F.col("_bn").cast("double")
                )
            )
        )
        .withColumn(
            "_cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("_an").cast("double") * F.col("_bn").cast("double")),
        )
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("_cos"), F.col("negative"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("anchor", "negative", "dot", "rank")
    )


def hard_negatives_oracle_sql(anchor_ids: list, k: int = 3,
                              dup_threshold: float = 0.9,
                              table: str = "embeddings",
                              id_col: str = "vec_id") -> str:
    ids = ", ".join(str(i) for i in anchor_ids)
    qdot = (
        "list_sum(list_transform(range(1, len({a}) + 1), i ->"
        " round(CAST({a}[i] AS DOUBLE) * 1000000.0)::BIGINT"
        " * round(CAST({b}[i] AS DOUBLE) * 1000000.0)::BIGINT))::BIGINT"
    )
    t2 = dup_threshold * dup_threshold
    return f"""
WITH q AS (
  SELECT {id_col}, embedding AS v,
         {qdot.format(a='embedding', b='embedding')} AS nrm
  FROM {table}
),
scored AS (
  SELECT a.{id_col} AS anchor, b.{id_col} AS negative,
         {qdot.format(a='a.v', b='b.v')} AS dot,
         CAST({qdot.format(a='a.v', b='b.v')} AS DOUBLE)
           / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cosv
  FROM q a JOIN q b ON a.{id_col} <> b.{id_col}
  WHERE a.{id_col} IN ({ids})
    AND NOT ({qdot.format(a='a.v', b='b.v')} > 0
         AND CAST({qdot.format(a='a.v', b='b.v')} AS DOUBLE)
             * CAST({qdot.format(a='a.v', b='b.v')} AS DOUBLE)
             >= {t2} * CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE))
)
SELECT anchor, negative, dot,
       rank FROM (
  SELECT anchor, negative, dot,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY cosv DESC, negative ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY anchor, rank
"""


# ---------------------------------------------------------------------------
# Exact Gram matrix (the distributed half of PCA / whitening)
# ---------------------------------------------------------------------------

def gram_matrix(emb: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """The exact d×d Gram matrix ``G = Σ_rows x xᵀ`` of the 1e-6-quantized
    embedding column, upper triangle as rows ``(i, j, g)`` with 1-based
    ``i <= j`` (G is symmetric; mirror for the full matrix). This is the
    distributed half of PCA/whitening: G is all a driver-side eigensolver
    needs, and its entries are exact int64 sums — reproducible to the bit,
    unlike a float accumulation.

    Scale: per-row work is d(d+1)/2 products generated by a single
    higher-order-function projection (no self-join, no Python); the
    shuffle moves only d(d+1)/2 keyed partial sums per task thanks to
    map-side combine — for d=64 that is 2,080 longs per task regardless
    of corpus size. Overflow: entries grow as n·(1e6·max|x|)² and must
    stay under 2^63 ≈ 9.2e18 — for unit-norm d=64 vectors (per-row
    products ~1.6e10) that holds to ~5e8 rows; beyond that, or for
    unnormalized data, cast the product to decimal(38,0) before the sum
    (same discipline as q_x16).
    """
    pairs = (
        "flatten(transform({xq}, (xi, i) -> "
        "transform(slice({xq}, i + 1, size({xq})), (xj, j) -> "
        "struct(i + 1 as i, i + 1 + j as j, xi * xj as p))))"
    )
    return (
        fan_out(emb, id_col)
        .select(F.expr(QVEC_EXPR.format(v=vec_col)).alias("_xq"))
        .select(F.explode(F.expr(pairs.format(xq="_xq"))).alias("e"))
        .groupBy(F.col("e.i").cast("int").alias("i"),
                 F.col("e.j").cast("int").alias("j"))
        .agg(F.sum("e.p").alias("g"))
    )


def gram_matrix_oracle_sql(table: str = "embeddings") -> str:
    return f"""
WITH x AS (
  SELECT list_transform(embedding, v -> round(v::DOUBLE * 1000000)::BIGINT) AS xq
  FROM {table}
)
SELECT i::INT AS i, j::INT AS j, sum(xq[i] * xq[j])::BIGINT AS g
FROM x, LATERAL (SELECT unnest(range(1, len(xq) + 1)) AS i) ri,
       LATERAL (SELECT unnest(range(1, len(xq) + 1)) AS j) rj
WHERE j >= i
GROUP BY i, j ORDER BY i, j
"""


def gram_power_iteration(emb: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id",
                         rescale: int = 1000) -> DataFrame:
    """Two power-iteration steps toward the Gram matrix's dominant
    eigenvector (the corpus's first principal direction), ENTIRELY in
    exact integer arithmetic. Returns ``(i, v)`` — the un-normalized
    direction after the second multiply; normalize driver-side for the
    unit eigenvector.

    Construction: v1 = G·1 (row sums — exact int64);
    v1' = (v1 * rescale) div max|v1| (integer rescale into
    [-rescale, rescale]); v2 = G·v1'. Every op is integer, so the result
    — including the fixed truncation of the rescale — hash-matches the
    unrolled ANSI oracle, same discipline as the k-means and PageRank
    loops.

    Domain bound (be honest about it): EVERY intermediate must fit
    int64. For quantized unit-norm d=64 vectors, Gram entries grow
    ~1.6e10·n, so v1 ~1e12·n and the v1·rescale intermediate crosses
    2^63 near n ≈ 1e4 rows (the v2 products bind slightly later). The
    engine's sessions run ANSI mode, so exceeding the bound FAILS LOUDLY
    (ARITHMETIC_OVERFLOW) rather than silently wrapping — note the
    DuckDB oracle widens to HUGEINT and would keep going. Past the
    bound, lower ``rescale``, pre-normalize G (divide by n via the
    centroid form), or run the iteration driver-side on the collected
    d×d Gram (2,080 longs — the intended 100 TB shape anyway: one
    distributed Gram pass, then a driver eigensolver).

    Scale: everything downstream of :func:`gram_matrix` operates on the
    d(d+1)/2-row Gram frame — cluster-scale work is the one Gram pass;
    the iteration itself is d²-sized arithmetic that any engine finishes
    in milliseconds.
    """
    g = gram_matrix(emb, vec_col, id_col)
    full = g.select("i", "j", "g").union(
        g.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    ).localCheckpoint(eager=False)
    v1 = full.groupBy("i").agg(F.sum("g").alias("v1"))
    # greatest(·, 1): an all-zero (or fully cancelling) corpus gives
    # max|v1| = 0; without the floor the rescale division DIVIDE_BY_ZEROs
    # under ANSI. With it, v1s (and hence v2) are all-zero — the honest
    # "no dominant direction" answer. Oracle mirrors the same floor.
    s1 = v1.agg(
        F.greatest(F.max(F.abs(F.col("v1"))), F.lit(1).cast("long")).alias("_s")
    )
    v1s = (
        v1.crossJoin(F.broadcast(s1))
        .select("i", F.expr(f"(v1 * {rescale}) div _s").alias("vs"))
    )
    v2 = (
        full.join(v1s.withColumnRenamed("i", "j"), "j")
        .groupBy("i")
        .agg(F.sum(F.col("g") * F.col("vs")).alias("v"))
    )
    return v2.select("i", "v")


def gram_power_driver(spark, emb: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id", iters: int = 2,
                      rescale: int = 1000) -> DataFrame:
    """Dominant-eigenvector power iteration in the DOCUMENTED 100 TB shape:
    ONE distributed pass builds the exact integer Gram matrix
    (:func:`gram_matrix` — d(d+1)/2 map-side-combined int64 sums), the
    d×d result (2,080 longs for d=64) is collected, and the iteration
    runs driver-side in exact arbitrary-precision Python integers with a
    truncating rescale into ``[-rescale, rescale]`` after EVERY multiply.
    Returns ``(i, v)`` — 1-based coordinate index and the rescaled
    direction after the last multiply.

    Why this replaces :func:`gram_power_iteration` as the declared form
    (q_v6): the all-distributed variant keeps ``v1 * rescale`` as an
    int64 Spark intermediate, which crosses 2^63 near n ≈ 1e4 rows and
    loud-fails under ANSI. Here the cluster-scale work is only the Gram
    pass (its own overflow budget holds to ~5e8 unit-norm rows, with the
    documented decimal(38,0) escape beyond), and every iteration-side
    intermediate is an unbounded Python int — no domain cliff at any
    corpus size (tests/test_scale_rehearsal.py runs n >> 1e4). The
    per-step rescale also bounds the DuckDB oracle's HUGEINT unroll
    (|G·v| <= d·max|g|·rescale ~ 1e15·n for d=64 unit-norm — 128-bit
    safe past n = 1e20).

    Exactness: integer multiply + the same sign-split truncating division
    on both engines, so the result hash-matches the unrolled oracle for
    any ``iters`` — the k-means/PageRank discipline, applied driver-side.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    rows = gram_matrix(emb, vec_col, id_col).collect()
    if not rows:
        raise ValueError("gram_power_driver: empty embedding input")
    d = max(r["j"] for r in rows)
    g = [[0] * d for _ in range(d)]
    for r in rows:
        g[r["i"] - 1][r["j"] - 1] = r["g"]
        g[r["j"] - 1][r["i"] - 1] = r["g"]

    def _trunc_div(x: int, s: int) -> int:
        return -((-x) // s) if x < 0 else x // s

    v = [1] * d
    for _ in range(iters):
        v = [sum(g[i][j] * v[j] for j in range(d)) for i in range(d)]
        s = max(max(abs(x) for x in v), 1)
        v = [_trunc_div(x * rescale, s) for x in v]
    out = [(i + 1, int(v[i])) for i in range(d)]
    return local_frame(spark, out, "i int, v bigint")


def gram_power_driver_oracle_sql(table: str = "embeddings",
                                 iters: int = 2,
                                 rescale: int = 1000) -> str:
    """Unrolled HUGEINT oracle for :func:`gram_power_driver`: ``iters``
    multiply+rescale rounds as chained CTEs, sign-split ``//`` emulating
    truncation-toward-zero, same max(·,1) floor on the scale."""
    gram = gram_matrix_oracle_sql(table)
    ctes = [f"g AS ({gram})",
            """full_g AS (
  SELECT i, j, g FROM g
  UNION ALL
  SELECT j AS i, i AS j, g FROM g WHERE i <> j
)""",
            "v0 AS (SELECT DISTINCT i, 1::HUGEINT AS vs FROM full_g)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"""m{k} AS (
  SELECT full_g.i, sum(full_g.g::HUGEINT * v{k - 1}.vs)::HUGEINT AS v
  FROM full_g JOIN v{k - 1} ON v{k - 1}.i = full_g.j
  GROUP BY full_g.i
)""")
        ctes.append(f"s{k} AS (SELECT greatest(max(abs(v)), 1) AS s FROM m{k})")
        ctes.append(
            f"""v{k} AS (SELECT i,
  (CASE WHEN v >= 0 THEN (v * {rescale}) // s
        ELSE -((-v * {rescale}) // s) END)::HUGEINT AS vs
  FROM m{k}, s{k})""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT i, vs::BIGINT AS v FROM v{iters} ORDER BY i
"""


def _PQ_L2(a: str, b: str) -> str:
    """Exact int64 squared L2 between two quantized component arrays."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
            f" cast(0 as bigint), (acc, v) -> acc + v)")


def _PQ_DOT(a: str, b: str) -> str:
    """Exact int64 dot between two quantized component arrays."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
            f" cast(0 as bigint), (acc, v) -> acc + v)")


def _pq_train(emb: DataFrame, m: int, k_codes: int, vec_col: str,
              id_col: str) -> tuple[list, int]:
    """Train the PQ codebooks: deterministic xxhash-seeded initial
    codewords, then ONE distributed Lloyd step per block (assign ->
    integer sum-div-count mean over the quantized components — no float
    rounding on the driver). Empty codewords keep their SQL-quantized
    seed. Returns ``(cbq, db)``: the integer codebook
    ``[block][code][dim]`` and the sub-block width."""
    spark = emb.sparkSession
    seeds = (
        emb.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k_codes).select(vec_col).collect()
    )
    if len(seeds) < k_codes:
        # fewer vectors than codewords: cb0/fallback would be short and
        # the empty-codeword loop would IndexError — fail descriptively
        raise ValueError(
            f"PQ training needs >= k_codes={k_codes} vectors to seed the "
            f"codebooks; corpus has only {len(seeds)} — lower k_codes or "
            f"grow the corpus")
    d = len(seeds[0][0])
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} blocks")
    db = d // m
    cb0 = [
        [[float(x) for x in r[0][b * db:(b + 1) * db]] for r in seeds]
        for b in range(m)
    ]
    cb0_df = local_frame(spark, [(cb0,)], "cb array<array<array<float>>>")
    cbb0 = (f"transform(element_at(cb, block + 1), "
            f"c -> {QVEC_EXPR.format(v='c')})")
    d2s0 = f"transform({cbb0}, c -> {_PQ_L2('sub', 'c')})"
    blocks = ", ".join(
        f"struct({b} as block, slice(_qcorp, {b * db + 1}, {db}) as sub)"
        for b in range(m)
    )
    stats = (
        fan_out(emb, id_col)
        .withColumn("_qcorp", F.expr(QVEC_EXPR.format(v=vec_col)))
        .select(F.explode(F.expr(f"array({blocks})")).alias("bs"))
        .select("bs.block", "bs.sub")
        .join(F.broadcast(cb0_df))
        .withColumn(
            "code",
            F.expr(f"cast(array_position({d2s0}, array_min({d2s0})) as int)"),
        )
        .select("block", "code", F.posexplode("sub").alias("dim", "val"))
        .groupBy("block", "code", "dim")
        .agg(F.expr("sum(val) div count(*)").alias("mu"))
        .collect()
    )
    cbq = [[[None] * db for _ in range(k_codes)] for _ in range(m)]
    for r in stats:
        cbq[r.block][r.code - 1][r.dim] = int(r.mu)
    if any(x is None for blk in cbq for cw in blk for x in cw):
        # empty codeword fallback: the seed, quantized BY SPARK (python
        # round() is banker's — never quantize driver-side)
        fallback = local_frame(spark,
            [(cb0,)], "cb array<array<array<float>>>"
        ).select(F.expr(
            "transform(cb, blk -> transform(blk, c -> "
            + QVEC_EXPR.format(v="c") + "))"
        ).alias("q")).collect()[0][0]
        for b in range(m):
            for c in range(k_codes):
                if cbq[b][c][0] is None:
                    cbq[b][c] = [int(x) for x in fallback[b][c]]
    return cbq, db


def pq_topk(emb: DataFrame, query_id, k: int = 10, m: int = 4,
            k_codes: int = 16, rerank: int = 8,
            vec_col: str = "embedding",
            id_col: str = "vec_id") -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC) — the
    memory-bound scale technique the RP-LSH / IVF family lacked: split
    each vector into ``m`` sub-blocks, quantize every block to its
    nearest of ``k_codes`` codewords, and score a query by summing
    per-block query→codeword distances. At billions of vectors the
    corpus compresses to m bytes/vector (here codes are recomputed on
    the fly — materializing them is the q_n8c-style follow-up) and the
    scan never touches float math: all distances are exact int64 over
    the 1e-6-quantized components, so the pipeline stays
    oracle-certifiable.

    Codebooks start from the IVF convention (sub-blocks of the
    ``k_codes`` ids with smallest xxhash64(id) — deterministic, no RNG
    state) and are refined by ONE distributed Lloyd step per block
    (assign → integer mean), the PQ training pass; per-block assignment
    takes the FIRST minimal distance (array_position), so ties are
    deterministic, and refined codewords are integer ``sum div count``
    of the quantized components — no float rounding anywhere. The PQ
    shortlist of ``rerank * k`` is then RERANKED with the exact
    quantized dot (the production IVF-PQ + rerank shape), so returned
    rows carry exact scores and only the shortlist membership is
    approximate.

    Scale: training is one exploded aggregation over (block, code,
    dim) — m·k_codes·dim driver-side longs; codebook and query ride one
    broadcast row each; encode + ADC is a single per-row expression —
    zero shuffles in the scan, TakeOrdered for the shortlist, broadcast
    semi-join + exact dot for the rerank. Requires dim % m == 0."""
    spark = emb.sparkSession
    cbq, db = _pq_train(emb, m, k_codes, vec_col, id_col)
    cbq_df = local_frame(spark, [(cbq,)], "cbq array<array<array<bigint>>>")
    q = _query_vector_col(emb, query_id, vec_col, id_col)

    # --- encode + IP-ADC against the refined integer codebook (the
    # shared _adc_terms rule — defined below, bound at call time) ---
    shortlist = (
        fan_out(emb, id_col)
        .join(F.broadcast(cbq_df))
        .join(F.broadcast(q))
        .withColumn("_qcorp", F.expr(QVEC_EXPR.format(v=vec_col)))
        .withColumn("_qq", F.expr(QVEC_EXPR.format(v="_qv")))
        .withColumn("approx_dot", F.expr(_adc_terms(m, db, "_qcorp")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "approx_dot")
        .orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    # --- exact rerank of the shortlist (production PQ contract) ---
    return (
        emb.join(F.broadcast(shortlist.select(id_col)), id_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_write(emb: DataFrame, path: str, m: int = 4, k_codes: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """MATERIALIZE the PQ index: train codebooks (:func:`_pq_train`),
    encode every vector once, and store ONLY ``(id, codes)`` — m small
    ints per vector, the memory-bound serving layout — plus the
    codebook sidecar at ``path/_codebook``. Queries then scan codes,
    never vectors (q_n8c's materialization contract, PQ edition)."""
    spark = emb.sparkSession
    cbq, db = _pq_train(emb, m, k_codes, vec_col, id_col)
    _pq_encode(emb, cbq, db, vec_col, id_col).write.mode(
        "overwrite").parquet(path)
    rows = [(b, c, cbq[b][c]) for b in range(m) for c in range(k_codes)]
    local_frame(spark,
        rows, "block int, code int, comps array<bigint>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_codebook")


def _pq_encode(emb: DataFrame, cbq: list, db: int, vec_col: str,
               id_col: str) -> DataFrame:
    """Encode vectors against a FIXED integer codebook: per block, the
    1-based position of the first-minimal-L2 codeword — the shared rule
    of pq_write and pq_append (append MUST use the build's rule or
    queries mis-rank appended vectors)."""
    m = len(cbq)
    spark = emb.sparkSession
    cbq_df = local_frame(spark, [(cbq,)], "cbq array<array<array<bigint>>>")
    codes = []
    for b in range(m):
        sub = f"slice(_qcorp, {b * db + 1}, {db})"
        cbb = f"element_at(cbq, {b + 1})"
        d2s = f"transform({cbb}, c -> {_PQ_L2(sub, 'c')})"
        codes.append(f"cast(array_position({d2s}, array_min({d2s})) as int)")
    return (
        fan_out(emb, id_col)
        .join(F.broadcast(cbq_df))
        .withColumn("_qcorp", F.expr(QVEC_EXPR.format(v=vec_col)))
        .select(id_col, F.expr(f"array({', '.join(codes)})").alias("codes"))
    )


def _pq_read_codebook(spark, path: str) -> tuple[list, int]:
    """Load the codebook sidecar back into ``(cbq, db)``."""
    cb_rows = spark.read.parquet(f"{path}/_codebook").collect()
    m = 1 + max(r.block for r in cb_rows)
    db = len(cb_rows[0].comps)
    cbq = [[None] * (len(cb_rows) // m) for _ in range(m)]
    for r in cb_rows:
        cbq[r.block][r.code] = [int(x) for x in r.comps]
    return cbq, db


def pq_append(spark, path: str, new_emb: DataFrame,
              vec_col: str = "embedding", id_col: str = "vec_id") -> None:
    """Incremental PQ ingest with a FROZEN codebook (ivf_append's
    contract, codes edition): new vectors are encoded against the
    stored codebook by the exact build-time rule and appended to the
    codes frame — no retrain, no rewrite of existing codes, so
    continuous 100 TB ingest touches only the new rows. Retrain (a
    fresh pq_write) is signaled by reconstruction-quality drift, the
    same census-style decision as IVF's."""
    cbq, db = _pq_read_codebook(spark, path)
    _pq_encode(new_emb, cbq, db, vec_col, id_col).write.mode(
        "append").parquet(path)


def pq_delete(spark, path: str, ids: list, *,
              id_col: str = "vec_id", deleted_at: int = 0) -> None:
    """Delete vectors from a materialized PQ index: same deletion-vector
    sidecar as :func:`ivf_delete` (``_tombstones`` under the index
    path, reconcile-at-read, purge at :func:`pq_compact`). O(len(ids))
    write, codes frame untouched."""
    _index_delete(spark, path, ids, id_col, deleted_at)


def pq_compact(spark, path: str, *, id_col: str = "vec_id") -> int:
    """Garbage-collect a materialized PQ index: rewrite the codes frame
    without the tombstoned ids and empty the sidecar. Unlike the IVF
    index there are no cell partitions to prune — but the codes frame
    IS the index (m small ints per vector, never the vectors), so the
    rewrite is proportional to the code bytes, not the corpus. Returns
    the number of rows purged."""
    tombs = _index_tombstones(spark, path)
    if tombs is None or tombs.isEmpty():
        return 0
    dead = F.broadcast(tombs.select(id_col).distinct())
    idx = spark.read.parquet(path)
    n_dead = idx.join(dead, id_col, "left_semi").count()
    if n_dead:
        # only the rewrite path needs the total (all-dead test) — the
        # no-op path (sidecar ids absent from the index) pays no scan
        n_total = idx.count()
        # Stage the COMPLETE replacement index (survivor codes + the
        # codebook sidecar + a terminal _COMMITTED marker) in a temp
        # dir, then swap directories with two renames. Every crash
        # window leaves a complete index on disk — at `path` (before
        # the swap), at `tmp` (mid-swap), or at both `path` and `old`
        # (before cleanup) — and :func:`pq_compact_repair` can finish
        # the swap mechanically from whichever dirs are present,
        # promoting `tmp` only when its marker proves the staging
        # writes all finished. The directory renames themselves assume
        # atomic-rename semantics (HDFS/local); object stores that
        # emulate rename as copy+delete should front this with their
        # committer instead.
        tmp = f"{path}__compact_tmp"
        old = f"{path}__compact_old"
        if n_dead == n_total:
            # every code is tombstoned — stage a zero-row codes frame
            # (repartition(1) forces one part file so the schema
            # footer survives and the emptied index stays readable;
            # pq_query then returns an empty top-k frame)
            survivors = local_frame(spark, [], idx.schema).repartition(1)
        else:
            survivors = idx.join(dead, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(f"{path}/_codebook").coalesce(1).write.mode(
            "overwrite").parquet(f"{tmp}/_codebook")
        _fs_touch(spark, f"{tmp}/_COMMITTED")  # staging is complete
        _fs_delete(spark, old)          # stale leftover from a crash
        _fs_rename(spark, path, old)    # old view (incl. _tombstones) aside
        _fs_rename(spark, tmp, path)    # new view in place
        _fs_delete(spark, old)
        _fs_delete(spark, f"{path}/_COMMITTED")  # marker served its purpose
    _empty_tombstones(spark, id_col).coalesce(1).write.mode(
        "overwrite").parquet(f"{path}/_tombstones")
    return int(n_dead)


def pq_compact_repair(spark, path: str) -> bool:
    """Finish an interrupted :func:`pq_compact` directory swap. Safe to
    call at any time (no-op on a healthy index). Rules, derived from the
    swap's crash windows: if ``path`` is missing but the staged temp dir
    holds a complete index (its terminal ``_COMMITTED`` marker exists —
    written AFTER the codes and codebook, so a crash mid-staging can
    never be mistaken for a finished stage; ``_codebook`` presence
    alone is accepted only for temp dirs staged by the pre-marker
    version), rename it into place; once ``path`` exists, any leftover
    temp/old dirs are garbage. Returns True when anything was
    changed."""
    tmp = f"{path}__compact_tmp"
    old = f"{path}__compact_old"
    changed = False
    if not _fs_exists(spark, path) and (
            _fs_exists(spark, f"{tmp}/_COMMITTED")
            or _fs_exists(spark, f"{tmp}/_codebook")):
        _fs_rename(spark, tmp, path)
        _fs_delete(spark, f"{path}/_COMMITTED")
        changed = True
    if _fs_exists(spark, path):
        for d in (tmp, old):
            if _fs_exists(spark, d):
                _fs_delete(spark, d)
                changed = True
    return changed


def _fs(spark, dir_path: str):
    """(FileSystem, Path) through the Hadoop API, so filesystem ops work
    on EVERY storage the session can write (HDFS/S3A/local), not just
    the driver's local disk."""
    jvm = spark._jvm  # noqa: SLF001 — same access plans.formatted_plan uses
    jsc = spark._jsc  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(dir_path)
    return p.getFileSystem(jsc.hadoopConfiguration()), p


def _fs_delete(spark, dir_path: str) -> None:
    """Recursive delete (no-op on a missing path)."""
    fs, p = _fs(spark, dir_path)
    fs.delete(p, True)


def _fs_exists(spark, dir_path: str) -> bool:
    fs, p = _fs(spark, dir_path)
    return bool(fs.exists(p))


def _fs_rename(spark, src: str, dst: str) -> None:
    """Directory move; raises instead of Hadoop's silent False so a
    failed swap step can't be mistaken for a completed one."""
    fs, p_src = _fs(spark, src)
    _, p_dst = _fs(spark, dst)
    if not fs.rename(p_src, p_dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _fs_touch(spark, file_path: str) -> None:
    """Create an empty marker file (the terminal commit record of a
    staged directory — written LAST, so its presence proves every
    earlier staging write finished)."""
    fs, p = _fs(spark, file_path)
    fs.create(p, True).close()


def pq_census(spark, path: str, emb: DataFrame,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Reconstruction census over a materialized PQ index — the RETRAIN
    signal named by :func:`pq_append`'s contract (ivf_census's role for
    codes): per block, the vector count, total and mean exact integer
    reconstruction error (L2 between each sub-vector and its assigned
    codeword), and the number of distinct codewords in use. Rising mean
    error or collapsing codeword usage after appends means the frozen
    codebook no longer fits the data — rebuild with pq_write.

    Scale: codes join their base vectors on id (the only shuffle),
    per-block errors are one map-side expression, and the report is m
    rows."""
    cbq, db = _pq_read_codebook(spark, path)
    m = len(cbq)
    cbq_df = local_frame(spark, [(cbq,)], "cbq array<array<array<bigint>>>")
    joined = (
        spark.read.parquet(path)
        .join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(cbq_df))
        .withColumn("_qcorp", F.expr(QVEC_EXPR.format(v=vec_col)))
    )
    per_block = []
    for b in range(m):
        sub = f"slice(_qcorp, {b * db + 1}, {db})"
        cw = (f"element_at(element_at(cbq, {b + 1}), "
              f"element_at(codes, {b + 1}))")
        per_block.append(
            f"struct({b} as block, element_at(codes, {b + 1}) as code, "
            f"{_PQ_L2(sub, cw)} as err)"
        )
    return (
        joined.select(
            F.explode(F.expr(f"array({', '.join(per_block)})")).alias("e")
        )
        .groupBy(F.col("e.block").alias("block"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("e.err").alias("total_err"),
            F.expr("sum(e.err) div count(*)").alias("mean_err"),
            F.countDistinct("e.code").alias("codes_in_use"),
        )
        .orderBy("block")
    )


def pq_query(spark, path: str, emb: DataFrame, query_id, k: int = 10,
             rerank: int = 8, vec_col: str = "embedding",
             id_col: str = "vec_id", *,
             honor_tombstones: bool = True) -> DataFrame:
    """Query a materialized PQ index: read the O(m·k_codes) codebook
    sidecar, build the per-(block, code) inner-product DISTANCE TABLE
    against the query (computed in Spark SQL over quantized ints — the
    driver only copies longs), fold it into the scan as literal arrays,
    and scan ONLY the codes frame: per row the score is m array
    lookups — no vector bytes are read until the exact rerank of the
    shortlist against the base table. Constant-folded literals keep the
    scan whole-stage-codegen with zero joins and zero shuffles."""
    # sidecar codes are 0-based codebook positions; the stored
    # per-vector codes are 1-based array_position values into the same
    # order. DT[b][c] = dot(query_sub_b, codeword) — exact ints via one
    # tiny Spark job (never python-rounded)
    cbq, db = _pq_read_codebook(spark, path)
    m = len(cbq)
    q = _query_vector_col(emb, query_id, vec_col, id_col)
    cbq_df = local_frame(spark, [(cbq,)], "cbq array<array<array<bigint>>>")
    dt_terms = ", ".join(
        f"transform(element_at(cbq, {b + 1}), "
        f"c -> {_PQ_DOT(f'slice(_qq, {b * db + 1}, {db})', 'c')})"
        for b in range(m)
    )
    dt = (
        q.join(F.broadcast(cbq_df))
        .withColumn("_qq", F.expr(QVEC_EXPR.format(v="_qv")))
        .select(F.expr(f"array({dt_terms})").alias("dt"))
        .collect()[0][0]
    )
    adc = " + ".join(
        "element_at(array({vals}), element_at(codes, {bi}))".format(
            vals=", ".join(f"cast({int(v)} as bigint)" for v in dt[b]),
            bi=b + 1,
        )
        for b in range(m)
    )
    codes_scan = spark.read.parquet(path).filter(
        F.col(id_col) != F.lit(query_id))
    if honor_tombstones:
        tombs = _index_tombstones(spark, path)
        if tombs is not None:
            # deleted vectors never reach the shortlist
            # (reconcile-at-read, ivf_query's exact contract — False is
            # the pre-delete audit view, same as the IVF path)
            codes_scan = codes_scan.join(
                F.broadcast(tombs.select(id_col).distinct()),
                id_col, "left_anti")
    shortlist = (
        codes_scan
        .withColumn("approx_dot", F.expr(adc))
        .select(id_col, "approx_dot")
        .orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    return (
        emb.join(F.broadcast(shortlist.select(id_col)), id_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (JL transform, exact-integer)
# ---------------------------------------------------------------------------

def _rp_sign_matrix(d: int, k: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(out, dim) = parity of the
    first md5 byte of "seed:out:dim". A Rademacher matrix satisfies the
    JL lemma like a Gaussian one (Achlioptas 2003) but needs no float RNG,
    so the identical literals inline into BOTH engines' expressions."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{out}:{j}".encode()).digest()[0] & 1
            else -1
            for j in range(d)
        ]
        for out in range(k)
    ]


def random_projection(emb: DataFrame, d: int = 64, k: int = 8,
                      scale: int = 1024, seed: int = 7,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Johnson-Lindenstrauss reduction to ``k`` integer components: each
    output is the signed sum of the quantized inputs under a deterministic
    Rademacher (±1) matrix. Quantization is ``floor(x * scale)`` with a
    power-of-two scale, so the float→int step is IEEE-exact and every
    downstream sum is int64 — the reduced vectors hash-match across
    engines, unlike float matrix products whose summation order drifts.

    The k components come back as FLAT columns (p0..p{k-1}) — harness-safe
    and directly usable as a bucketing/sort key set for coarse ANN.

    Scale: zero shuffle — one codegen'd projection per row; the matrix is
    a literal in the plan (no broadcast, no join). At 100 TB this is a
    map-only pass you pipeline in front of any clustering/LSH stage."""
    signs = _rp_sign_matrix(d, k, seed)
    q = (f"transform(sequence(1, {d}), j -> cast(floor(cast("
         f"element_at({vec_col}, j) as double) * {scale}) as bigint))")
    cols = [
        F.expr(
            "aggregate(zip_with({q}, array({s}), (x, s) -> x * s), 0L,"
            " (a, v) -> a + v)".format(
                q=q, s=", ".join(f"{s}L" for s in signs[out])
            )
        ).alias(f"p{out}")
        for out in range(k)
    ]
    return fan_out(emb, id_col).select(F.col(id_col), *cols)


def random_projection_oracle_sql(d: int = 64, k: int = 8, scale: int = 1024,
                                 seed: int = 7, table: str = "embeddings",
                                 id_col: str = "vec_id") -> str:
    """Same literal sign matrix, DuckDB list primitives: the two engines
    must agree bit-for-bit on every reduced component."""
    signs = _rp_sign_matrix(d, k, seed)
    cols = ",\n       ".join(
        "coalesce(list_aggregate(list_transform(range(1, {n}), "
        "j -> floor(embedding[j]::DOUBLE * {scale})::BIGINT * ([{s}])[j]), "
        "'sum'), 0)::BIGINT AS p{out}".format(
            n=d + 1, scale=scale,
            s=", ".join(str(s) for s in signs[out]), out=out
        )
        for out in range(k)
    )
    return f"""
SELECT {id_col},
       {cols}
FROM {table} ORDER BY {id_col}
"""


def _probe_cells(emb: DataFrame, centroids: list, query_id, nprobe: int,
                 vec_col: str, id_col: str) -> list:
    """Shared IVF probe selection: the nprobe cells whose centroids are
    L2-nearest the query vector (driver-side over the tiny centroid
    list). ivf_topk, ivfpq_topk and ivfpq_residual_topk must all pick
    probes by this one rule or recall comparisons across the family
    stop meaning anything."""
    qrow = emb.filter(F.col(id_col) == F.lit(query_id))         .select(vec_col).collect()
    if not qrow:
        raise KeyError(f"query id {query_id!r} not found")
    qv = [float(x) for x in qrow[0][vec_col]]
    by_dist = sorted(
        centroids, key=lambda c: sum((a - b) ** 2 for a, b in zip(c[1], qv))
    )
    return [c[0] for c in by_dist[:nprobe]]


def _adc_terms(m: int, db: int, corp_col: str, qq_col: str = "_qq") -> str:
    """Shared IP-ADC expression: per block, assign ``corp_col``'s slice to
    its L2-nearest codeword (first-minimum ties, the training rule) and
    dot the query slice with that codeword. One definition serves
    pq_topk, ivfpq_topk and the residual form — the assignment/tie rule
    cannot silently diverge between them."""
    terms = []
    for b in range(m):
        sub = f"slice({corp_col}, {b * db + 1}, {db})"
        qsub = f"slice({qq_col}, {b * db + 1}, {db})"
        cbb = f"element_at(cbq, {b + 1})"
        d2s = f"transform({cbb}, c -> {_PQ_L2(sub, 'c')})"
        code = f"array_position({d2s}, array_min({d2s}))"
        terms.append(
            _PQ_DOT(qsub, f"element_at({cbb}, cast({code} as int))")
        )
    return " + ".join(terms)


def ivfpq_topk(emb: DataFrame, query_id, k: int = 10, n_cells: int = 8,
               nprobe: int = 4, m: int = 4, k_codes: int = 16,
               rerank: int = 8, vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ: the production composite ANN index — the IVF coarse
    quantizer prunes the scan to ``nprobe`` cells' inverted lists, and
    WITHIN the probed cells scoring runs on PQ codes via IP-ADC, then
    the shortlist reranks with the exact quantized dot. This is the
    FAISS IVFPQ serving shape (here with codes over raw vectors, the
    by_residual=false variant; residual encoding per cell is the
    documented refinement that needs per-cell codebooks).

    Both stages reuse the exact building blocks their standalone forms
    certify: cell assignment is :func:`_assign_cells` (the append-safe
    rule), codebooks come from :func:`_pq_train`, and the ADC expression
    is pq_topk's. At 100 TB: centroids and codebook are two broadcast
    rows, the probed-cell filter is partition pruning on the
    materialized cell-bucketed index, the ADC scan reads m bytes per
    vector, and only ``rerank*k`` full vectors are ever touched."""
    spark = emb.sparkSession
    centroids, assigned = ivf_index(emb, n_cells, vec_col, id_col)
    cbq, db = _pq_train(emb, m, k_codes, vec_col, id_col)
    probes = _probe_cells(emb, centroids, query_id, nprobe, vec_col, id_col)
    cbq_df = local_frame(spark, [(cbq,)],
                                   "cbq array<array<array<bigint>>>")
    q = _query_vector_col(emb, query_id, vec_col, id_col)
    shortlist = (
        assigned.filter(F.col("cell").isin(probes))
        .join(F.broadcast(cbq_df))
        .join(F.broadcast(q))
        .withColumn("_qcorp", F.expr(QVEC_EXPR.format(v=vec_col)))
        .withColumn("_qq", F.expr(QVEC_EXPR.format(v="_qv")))
        .withColumn("approx_dot", F.expr(_adc_terms(m, db, "_qcorp")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "approx_dot")
        .orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    return (
        emb.join(F.broadcast(shortlist.select(id_col)), id_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _pq_train_q(df: DataFrame, m: int, k_codes: int, qcol: str,
                id_col: str) -> tuple[list, int]:
    """PQ training over an ALREADY-QUANTIZED integer vector column —
    the residual-encoding path's trainer. Same construction as
    :func:`_pq_train` (xxhash-seeded codewords, one distributed Lloyd
    step, integer sum-div-count means, deterministic ties) but with no
    float quantization anywhere: seeds are exact ints, so the empty-
    codeword fallback needs no Spark-side re-rounding."""
    seeds = (
        df.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k_codes).select(qcol).collect()
    )
    d = len(seeds[0][0])
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} blocks")
    db = d // m
    cbq0 = [
        [[int(x) for x in r[0][b * db:(b + 1) * db]] for r in seeds]
        for b in range(m)
    ]
    spark = df.sparkSession
    cb_df = local_frame(spark, [(cbq0,)], "cb array<array<array<bigint>>>")
    cbb = "element_at(cb, block + 1)"
    d2s = f"transform({cbb}, c -> {_PQ_L2('sub', 'c')})"
    blocks = ", ".join(
        f"struct({b} as block, slice({qcol}, {b * db + 1}, {db}) as sub)"
        for b in range(m)
    )
    stats = (
        df.select(F.explode(F.expr(f"array({blocks})")).alias("bs"))
        .select("bs.block", "bs.sub")
        .join(F.broadcast(cb_df))
        .withColumn(
            "code",
            F.expr(f"cast(array_position({d2s}, array_min({d2s})) as int)"),
        )
        .select("block", "code", F.posexplode("sub").alias("dim", "val"))
        .groupBy("block", "code", "dim")
        .agg(F.expr("sum(val) div count(*)").alias("mu"))
        .collect()
    )
    # empty codewords simply keep their exact-integer seeds — no
    # re-quantization pass needed, unlike the float-seeded _pq_train
    cbq = [[list(cbq0[b][c]) for c in range(k_codes)] for b in range(m)]
    for r in stats:
        cbq[r.block][r.code - 1][r.dim] = int(r.mu)
    return cbq, db


def ivfpq_residual_topk(emb: DataFrame, query_id, k: int = 10,
                        n_cells: int = 8, nprobe: int = 4, m: int = 4,
                        k_codes: int = 16, rerank: int = 8,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (FAISS by_residual=true) — the
    refinement :func:`ivfpq_topk` documents: codes quantize the residual
    ``q(v) − q(centroid(v))`` instead of the raw vector, so the codebook
    only has to cover within-cell variation, and the ADC estimate is
    ``⟨q, centroid_cell⟩ + ADC(q, residual codes)`` — the first term is
    computed EXACTLY per probed cell, so all quantization error lives in
    the (smaller) residual. Residuals are integer differences of the
    shared quantization, so the whole pipeline stays exact-int certifiable.

    Shortlist, then exact rerank, as in every PQ form. Scale identical
    to ivfpq_topk plus one broadcast of the n_cells exact centroid dots.

    MEASURED trade-off on the driver fixtures (and the reason this form
    is API surface but not a declared query): the fixture embeddings are
    near-orthogonal with no real cluster structure — residual norms stay
    ~0.99 of raw even under true-label centroids — so quantizing
    residuals buys nothing and recall@10 measures 0.2/0.4 vs raw
    IVF-PQ's 0.5/0.5 (sf0.001/sf0.01). Residual encoding wins exactly
    when the coarse quantizer captures genuine cluster mass (the
    production case); on clusterless data prefer by_residual=false.
    The unit test pins this measured relationship."""
    spark = emb.sparkSession
    centroids, assigned = ivf_index(emb, n_cells, vec_col, id_col)
    cent_df = local_frame(spark,
        centroids,
        f"cell int, cvec {emb.schema[vec_col].dataType.simpleString()}",
    )
    resid = (
        assigned.join(F.broadcast(cent_df), "cell")
        .withColumn("_qv_c", F.expr(QVEC_EXPR.format(v=vec_col)))
        .withColumn("_qc", F.expr(QVEC_EXPR.format(v="cvec")))
        .withColumn("_qr", F.expr("zip_with(_qv_c, _qc, (x, y) -> x - y)"))
    )
    cbq, db = _pq_train_q(resid, m, k_codes, "_qr", id_col)
    probes = _probe_cells(emb, centroids, query_id, nprobe, vec_col, id_col)
    q = _query_vector_col(emb, query_id, vec_col, id_col)
    # exact <q, centroid_c> per cell, quantized BY SPARK (never python
    # round(), which is banker's) — an n_cells-row broadcast
    cdots = (
        cent_df.join(F.broadcast(q))
        .withColumn("_qq", F.expr(QVEC_EXPR.format(v="_qv")))
        .withColumn("_qc", F.expr(QVEC_EXPR.format(v="cvec")))
        .select("cell", F.expr(_PQ_DOT("_qq", "_qc")).alias("cent_dot"))
    )
    cbq_df = local_frame(spark, [(cbq,)], "cbq array<array<array<bigint>>>")
    shortlist = (
        resid.filter(F.col("cell").isin(probes))
        .join(F.broadcast(cdots), "cell")
        .join(F.broadcast(cbq_df))
        .join(F.broadcast(q))
        .withColumn("_qq", F.expr(QVEC_EXPR.format(v="_qv")))
        .withColumn("approx_dot",
                    F.col("cent_dot") + F.expr(_adc_terms(m, db, "_qr")))
        .filter(F.col(id_col) != F.lit(query_id))
        .select(id_col, "approx_dot")
        .orderBy(F.col("approx_dot").desc(), F.col(id_col).asc())
        .limit(rerank * k)
    )
    return (
        emb.join(F.broadcast(shortlist.select(id_col)), id_col, "left_semi")
        .join(F.broadcast(q))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a=vec_col, b="_qv")))
        .select(id_col, "dot")
        .orderBy(F.col("dot").desc(), F.col(id_col).asc())
        .limit(k)
    )


def centroid_similarity_matrix(emb: DataFrame, group_col: str = "label",
                               vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Pairwise cosine between GROUP CENTROIDS — the cluster-structure
    diagnostic ("which labels are semantically adjacent?", the merge
    signal for over-split clusters). Cosine of means equals cosine of
    integer component SUMS (the 1/n factors cancel), so the whole matrix
    stays exact: per-pair dot and squared norms are DECIMAL(38,0) sums of
    quantized-int products, and ``cos`` is the deterministic two-step
    ``dot / sqrt(double(naa) * double(nbb))`` (exact-operand casts, IEEE
    multiply, IEEE sqrt, IEEE divide — bit-identical across engines).
    Returns ``(label_a, label_b, dot, cos)`` for every a < b pair.

    Scale shape: the corpus reduces ONCE to the (group, dim) component
    frame (|groups| x d rows — :func:`group_centroids`' aggregate); the
    pair matrix is a self-join keyed on DIM (fan-out per dim = groups^2,
    never corpus-sized) plus one groupBy over |groups|^2/2 rows. Vectors
    themselves never join."""
    comp = (
        group_centroids(emb, group_col, vec_col, id_col)
        .select(F.col(group_col).alias("g"), "dim",
                F.col("sum_q").alias("s"))
        .localCheckpoint(eager=False)
    )
    a = comp.select(F.col("g").alias("label_a"), "dim", F.col("s").alias("sa"))
    b = comp.select(F.col("g").alias("label_b"), "dim", F.col("s").alias("sb"))
    dec = "cast({v} as decimal(38,0))"
    return (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.expr(f"sum({dec.format(v='sa')} * sb)").alias("dot"),
            F.expr(f"sum({dec.format(v='sa')} * sa)").alias("naa"),
            F.expr(f"sum({dec.format(v='sb')} * sb)").alias("nbb"),
        )
        .select(
            "label_a", "label_b",
            # digit-string emission: the exact decimal can't cross the
            # grading harness's pandas bridge (see ml.linear_fit)
            F.col("dot").cast("string").alias("dot"),
            (F.col("dot").cast("double")
             / F.sqrt(F.col("naa").cast("double") * F.col("nbb").cast("double"))
             ).alias("cos"),
        )
        .orderBy("label_a", "label_b")
    )


def centroid_similarity_matrix_oracle_sql(group_col: str = "label",
                                          table: str = "embeddings") -> str:
    """DuckDB mirror over the identical component frame; HUGEINT sums,
    the same double-cast multiply/sqrt/divide sequence."""
    return f"""
WITH x AS (
  SELECT {group_col} AS g,
         generate_subscripts(embedding, 1)::INT AS dim,
         round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS xq
  FROM {table}
), comp AS (
  SELECT g, dim, sum(xq)::BIGINT AS s FROM x GROUP BY g, dim
), p AS (
  SELECT a.g AS label_a, b.g AS label_b,
         sum(a.s::HUGEINT * b.s) AS dot,
         sum(a.s::HUGEINT * a.s) AS naa,
         sum(b.s::HUGEINT * b.s) AS nbb
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.g < b.g
  GROUP BY a.g, b.g
)
SELECT label_a, label_b, dot::VARCHAR AS dot,
       dot::DOUBLE / sqrt(naa::DOUBLE * nbb::DOUBLE) AS cos
FROM p ORDER BY label_a, label_b
"""


def cosine_histogram(emb: DataFrame, sample_ids: int = 100, bins: int = 20,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Embedding-geometry diagnostic: the distribution of pairwise
    cosines over a bounded deterministic sample (``id < sample_ids``) —
    the "is my embedding space collapsing?" histogram (a healthy space
    concentrates near 0; mass near 1 means near-duplicates or collapse).
    Returns ``(bin, n_pairs)`` where ``bin = floor((cos+1)/2 * bins)``
    clamped to ``bins-1``, ordered by bin.

    Exactness: the established quantized-int sequence — exact int64
    dot/norms, one IEEE multiply + sqrt + divide — then ONE floor on the
    double; every step identical across engines. Scale: the quadratic
    term exists ONLY over the fixed ``sample_ids`` sample (the broadcast
    side), never the corpus — diagnostics sample by design; the full
    corpus never pairs."""
    q = emb.filter(F.col(id_col) < sample_ids).select(
        F.col(id_col).alias("i"),
        F.expr(QVEC_EXPR.format(v=vec_col)).alias("x"),
    ).withColumn(
        "n", F.expr("aggregate(zip_with(x, x, (a, b) -> a * b), 0L,"
                    " (s, v) -> s + v)")
    )
    a = q.select(F.col("i").alias("ia"), F.col("x").alias("xa"),
                 F.col("n").alias("na"))
    b = q.select(F.col("i").alias("ib"), F.col("x").alias("xb"),
                 F.col("n").alias("nb"))
    return (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(xa, xb, (a, b) -> a * b), 0L,"
                   " (s, v) -> s + v)"),
        )
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        )
        .select(
            F.expr(
                f"least(cast(floor((cos + 1.0) / 2.0 * {int(bins)}) as"
                f" bigint), {int(bins) - 1})"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


def cosine_histogram_oracle_sql(sample_ids: int = 100, bins: int = 20,
                                table: str = "embeddings",
                                id_col: str = "vec_id") -> str:
    return f"""
WITH q AS (
  SELECT {id_col} AS i,
         list_transform(embedding,
           e -> round(e::DOUBLE * 1000000)::BIGINT) AS x
  FROM {table} WHERE {id_col} < {sample_ids}
), n AS (
  SELECT i, x,
         list_aggregate(list_transform(x, v -> v * v), 'sum')::BIGINT AS nn
  FROM q
), p AS (
  SELECT a.i AS ia, b.i AS ib,
         list_aggregate(
           list_transform(range(1, len(a.x) + 1),
             k -> a.x[k] * b.x[k]), 'sum')::BIGINT AS dot,
         a.nn AS na, b.nn AS nb
  FROM n a JOIN n b ON a.i < b.i
), c AS (
  SELECT least(floor((dot::DOUBLE / sqrt(na::DOUBLE * nb::DOUBLE) + 1.0)
               / 2.0 * {bins})::BIGINT, {bins} - 1) AS bin
  FROM p
)
SELECT bin, count(*)::BIGINT AS n_pairs FROM c GROUP BY bin ORDER BY bin
"""


def int8_quantization_report(emb: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id") -> DataFrame:
    """Per-dimension affine INT8 quantization report — the 4x storage
    compression every large-scale embedding store runs before serving
    (float32 -> uint8 with per-dimension scale/zero-point), evaluated
    here as exact integer statistics: for each dimension, the quantized
    range and the reconstruction error a round-trip through the 8-bit
    code incurs. Returns one row per dimension:
    ``(dim, mn_q, mx_q, n, sum_abs_err, max_abs_err)`` where mn_q/mx_q
    are the 1e-6-quantized int64 component bounds, ``q8 = round((x-mn) *
    255 / range)`` is the 8-bit code, and err = |x - dequant(q8)| in the
    same int64 units. Exactness: int64 operands, ONE IEEE multiply +
    divide + half-away-from-zero round per element — identical in both
    engines, so the report hash-matches the oracle.

    Scale shape: posexplode -> ONE map-side-combined min/max agg keyed
    by dim (d rows, broadcast back) -> a second zero-shuffle pass over
    the re-projected elements -> ONE map-side-combined error agg (d
    rows). Elements never shuffle; recomputing the projection on pass 2
    beats materializing n*d rows at 100 TB."""
    ex = (
        fan_out(emb.select(id_col, vec_col), id_col)
        .select(
            F.posexplode(F.expr(QVEC_EXPR.format(v=vec_col)))
            .alias("_p", "xq")
        )
        .select((F.col("_p") + 1).cast("int").alias("dim"), "xq")
    )
    stats = ex.groupBy("dim").agg(
        F.min("xq").alias("mn_q"), F.max("xq").alias("mx_q")
    )
    q8 = ("case when mx_q = mn_q then 0L else cast(round("
          "(cast(xq - mn_q as double) * 255.0d) / "
          "cast(mx_q - mn_q as double)) as bigint) end")
    deq = ("case when mx_q = mn_q then mn_q else mn_q + cast(round("
           f"(cast({q8} as double) * cast(mx_q - mn_q as double)) / 255.0d"
           ") as bigint) end")
    return (
        ex.join(F.broadcast(stats), "dim")
        .select("dim", "mn_q", "mx_q",
                F.expr(f"abs(xq - ({deq}))").alias("err"))
        .groupBy("dim")
        .agg(
            F.first("mn_q").alias("mn_q"),
            F.first("mx_q").alias("mx_q"),
            F.count("*").cast("long").alias("n"),
            F.sum("err").cast("long").alias("sum_abs_err"),
            F.max("err").cast("long").alias("max_abs_err"),
        )
        .orderBy("dim")
    )


def int8_quantization_report_oracle_sql(table: str = "embeddings") -> str:
    """DuckDB mirror: identical quantized-int operands and the identical
    multiply/divide/round sequence; aggregate sums cast to BIGINT (a
    windowed/plain sum(BIGINT) is HUGEINT and would reach pandas as
    float64 — see tests/oracle_dtype_audit.py)."""
    q8 = ("CASE WHEN mx_q = mn_q THEN 0 ELSE round("
          "((xq - mn_q)::DOUBLE * 255.0) / (mx_q - mn_q)::DOUBLE"
          ")::BIGINT END")
    deq = (f"CASE WHEN mx_q = mn_q THEN mn_q ELSE mn_q + round("
           f"(({q8})::DOUBLE * (mx_q - mn_q)::DOUBLE) / 255.0)::BIGINT END")
    return f"""
WITH x AS (
  SELECT generate_subscripts(embedding, 1)::INT AS dim,
         round(unnest(embedding)::DOUBLE * 1000000)::BIGINT AS xq
  FROM {table}
), s AS (
  SELECT dim, min(xq)::BIGINT AS mn_q, max(xq)::BIGINT AS mx_q
  FROM x GROUP BY dim
), e AS (
  SELECT x.dim, mn_q, mx_q, abs(xq - ({deq}))::BIGINT AS err
  FROM x JOIN s ON x.dim = s.dim
)
SELECT dim, min(mn_q)::BIGINT AS mn_q, max(mx_q)::BIGINT AS mx_q,
       count(*)::BIGINT AS n,
       sum(err)::BIGINT AS sum_abs_err, max(err)::BIGINT AS max_abs_err
FROM e GROUP BY dim ORDER BY dim
"""
