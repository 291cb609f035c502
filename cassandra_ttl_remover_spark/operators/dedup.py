"""Deduplication operators (north-star surface, SURVEY.md §2.2): exact,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.

The reference's closest relative is its last-writer-wins liveness merge
(timestamp precedence, SURVEY.md §1.2) — exact_dedup_last_writer below is
that exact rule lifted to a generic key. Everything else is new surface for
the 100 TB pipeline.

Determinism strategy (for the DuckDB oracle):
  * exact dedup keys on md5(text) — identical hex in every engine;
  * SimHash uses md5-nibble bits (portable) rather than engine hashes;
  * Jaccard is exact integer set arithmetic (|A∩B| / |A∪B|);
  * embedding similarity quantizes float32 -> round(x*1e6) int64 and does
    exact integer dot products (associativity-safe), comparing cosine² via
    doubles derived from those exact ints — identical in any IEEE engine.
  * MinHash-LSH is the *scale path* whose candidate set is engine-specific
    (xxhash64); it is validated by RECALL against the exact Jaccard pairs,
    not hash-matched (FIXTURES.md Q-A2 pattern).

Scale notes per operator are inline; the common theme: shuffle only on
compact derived keys (hash, band signature), never on full text; pair
generation is always bucketed (LSH band or simhash band) rather than the
O(n²) cross join, which exists here only as the small-n oracle surface.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql import types as T

from cassandra_ttl_remover_spark.operators.text import SHINGLES_EXPR, WORDS_EXPR
from cassandra_ttl_remover_spark.plans import fan_out, local_frame

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep the smallest id
    (deterministic representative), report the group size.

    Scale: the shuffle key is the 32-char digest, not the document — at
    100 TB this moves ~32 bytes/doc plus ids. Map-side partial min/count."""
    return (
        docs.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def exact_dedup_last_writer(df: DataFrame, keys: list[str],
                            writetime_col: str = "writetime") -> DataFrame:
    """Last-writer-wins dedup — the liveness merge rule (§1.2: higher
    timestamp wins) as a generic group-max. One shuffle on the key."""
    aggs = [F.max(writetime_col).alias(writetime_col)]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (oracle surface for fuzzy dedup)
# ---------------------------------------------------------------------------

def shingle_frame(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) exploded distinct 3-word shingles. The word array
    is hoisted into its own projection first — inlining the split into
    the shingle lambda's element_at calls would re-split the text per
    element (O(words²) splits per doc)."""
    ws = WORDS_EXPR.format(col=text_col)
    sh = SHINGLES_EXPR.format(ws="_ws")
    # shingling + downstream hashing is CPU-bound: guarantee full parallelism
    # even when the source arrives as a single file split (plans.fan_out is a
    # no-op on well-partitioned inputs)
    return (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(id_col, F.expr(ws).alias("_ws"))
        .select(id_col, F.explode(F.expr(sh)).alias("sh"))
    )


#: per-shingle i<j id-pair expansion over a sorted member id list ``m``.
#: Retained as the reference form (tests pin the chained-Generate
#: rewrite below against it); not used on any query path since r12.
_ID_PAIRS_EXPR = (
    "flatten(transform(m, (x, i) -> "
    "transform(slice(m, i + 2, size(m)), y -> struct(x as a, y as b))))"
)


def _pair_expand(members: DataFrame) -> DataFrame:
    """i<j pair expansion over each row's sorted member list ``m``,
    emitted as ``(_x, _y)`` — as two CHAINED codegen Generates
    (posexplode + explode(slice)) instead of the one interpreted
    nested-lambda flatten (``_ID_PAIRS_EXPR``): higher-order
    ``transform()`` lambdas never reach whole-stage codegen, and the
    nested form also allocates the full O(B²) pair array per bucket
    before exploding it, while the chained form streams pairs through
    generated code (r12: pair expansion + count stage 0.75 -> 0.49 s
    at sf0.1, value-identical — pinned in test_dedup). Works for any
    element type (plain ids or (id, payload) structs).

    Examined and left (r13): AQE coalesces the members exchange to 1-3
    tasks at sf0.1 (member-list bytes are small), so the expansion +
    map-side pair aggregate run narrow. A fan_out floor ahead of the
    expansion was A/B'd both keyless (sortBeforeRepartition pays a
    local sort of array-cell rows) and keyed by the bucket columns:
    same-session ABAB showed no win on the shingle path (1.854 vs
    1.852 s — the collect_list aggregate dominates) and a small LOSS
    on the minhash path (2.083 -> 2.224 s min-of-4) — the extra
    exchange costs more than the narrow Generate stage it spreads.
    At 100 TB the members frame's size estimate exceeds the
    parallelism target and AQE keeps the stage wide on its own; skew
    is bounded by the callers' ``max_df``/``max_bucket`` caps."""
    return (
        members.select(F.posexplode("m").alias("_i", "_x"), F.col("m"))
        .select(
            F.col("_x"),
            F.explode(F.expr("slice(m, _i + 2, size(m))")).alias("_y"),
        )
    )


def shingle_pair_counts(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", max_df: int | None = None,
                        hash_shingles: bool = True) -> DataFrame:
    """Shared inverted-index core for exact set-overlap measures: pairs
    (a < b) sharing >= 1 shingle, with exact ``(inter, sza, szb)`` counts.
    Jaccard, containment, overlap coefficient etc. are one projection on
    top — the expensive shuffle work is identical, so they share it.

    See :func:`ngram_jaccard_pairs` for the df-cap and shingle-hashing
    rationale; both apply here verbatim."""
    sh = shingle_frame(docs, text_col, id_col)
    if hash_shingles:
        sh = sh.withColumn("sh", F.xxhash64("sh"))
    sh = sh.localCheckpoint(eager=False)
    if max_df is not None:
        hot = (
            sh.groupBy("sh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    # NB: no checkpoint here — the two size-join branches (sa/sb) hit the
    # same aggregation and Spark's ReusedExchange already dedupes it; a
    # materialization boundary measured neutral-to-slower at sf0.1
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    members = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("m"))
        .filter(F.size("m") >= 2)
    )
    inter = (
        _pair_expand(members)
        .groupBy(F.col("_x").alias("a"), F.col("_y").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return inter.join(sa, "a").join(sb, "b")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_df: int | None = None,
                        hash_shingles: bool = True) -> DataFrame:
    """Exact Jaccard over 3-word shingle sets: pairs (a < b) with
    |A∩B| / |A∪B| >= threshold. Inverted index (shingle -> member id list),
    per-shingle i<j pair expansion, count intersections, derive union from
    exact set sizes.

    ``max_df`` is the document-frequency cap: shingles appearing in more than
    ``max_df`` documents (boilerplate headers, license text — guaranteed in
    a real corpus) are treated as stop-shingles and removed BEFORE both the
    pair expansion and the per-doc set sizes, so the semantics stay a
    well-defined exact Jaccard over the capped shingle sets (and the DuckDB
    oracle applies the identical cap — see ngram_jaccard_oracle_sql). Without
    a cap a single hot shingle makes the pair expansion quadratic in its df;
    with it, work per shingle is bounded by max_df²/2. ``None`` keeps the
    uncapped exact semantics (small-n oracle surface only).

    ``hash_shingles`` (default) replaces each shingle string with its
    xxhash64 BEFORE anything shuffles: every downstream exchange and group
    key carries 8 bytes instead of a ~30-byte string — at 100 TB that is the
    pipeline's largest shuffle cut 3-4x. Set sizes and intersection counts
    are unchanged (distinct strings -> distinct hashes) barring a 64-bit
    collision (~1e-9 at a billion distinct shingles), so results — and the
    string-based DuckDB oracle — still match exactly.

    Scale: ONE shuffle keyed by the (hashed) shingle for the pair expansion
    (groupBy + collect_list — no self-join, so the upstream plan executes
    once), plus the map-side-combined df/size aggregations. Exact integer
    counts -> one IEEE division, so the oracle hash-matches.

    The exploded shingles are materialized ONCE (lazy checkpoint inside
    :func:`shingle_pair_counts`): the hot-set aggregate, the anti-join probe
    side, and the sizes/members branches all read the same blocks instead of
    re-running the explode pipeline. The stop-shingle list is bounded-small
    by construction (few shingles exceed the cap in any real corpus — it is
    a discovered stopword dim), so the cap is a broadcast anti-join: the
    exploded shingle frame, the largest in this pipeline, never shuffles
    for the cap."""
    return (
        shingle_pair_counts(docs, text_col, id_col, max_df, hash_shingles)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_oracle_sql(threshold: float = 0.5, table: str = "documents",
                             id_col: str = "doc_id", where: str = "TRUE",
                             max_df: int | None = None) -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh_list = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    # identical df-cap semantics to ngram_jaccard_pairs: stop-shingles removed
    # before both pair expansion and set sizes
    cap = (
        f"WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {max_df})"
        if max_df is not None
        else ""
    )
    return f"""
WITH sh0 AS (
  SELECT {id_col}, unnest({sh_list}) AS s FROM {table} WHERE {where}
),
sh AS (SELECT * FROM sh0 {cap}),
sizes AS (SELECT {id_col}, count(*) AS sz FROM sh GROUP BY {id_col}),
inter AS (
  SELECT x.{id_col} AS a, y.{id_col} AS b, count(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.{id_col} < y.{id_col}
  GROUP BY x.{id_col}, y.{id_col}
)
SELECT a, b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON sa.{id_col} = a JOIN sizes sb ON sb.{id_col} = b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {threshold}
ORDER BY a, b
"""


def containment_pairs(docs: DataFrame, threshold: float = 0.8,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_df: int | None = None,
                      hash_shingles: bool = True) -> DataFrame:
    """Asymmetric near-dup: shingle containment C(x in y) = |X∩Y| / |X|.
    Jaccard misses subsumption — a paragraph quoted whole inside a much
    longer page has tiny Jaccard but containment ≈ 1 from the short side —
    and training corpora are full of exactly that (quoted excerpts,
    scraped-with-boilerplate copies). Emits pairs (a < b) where EITHER
    direction reaches ``threshold``, with both directions' scores, so the
    caller can keep the superset document and drop the contained one.

    Same single-shuffle inverted-index core as :func:`ngram_jaccard_pairs`
    (:func:`shingle_pair_counts`) — containment is a different final
    projection on identical (inter, sza, szb) counts, and the same df-cap
    keeps hot boilerplate shingles from going quadratic."""
    pc = shingle_pair_counts(docs, text_col, id_col, max_df, hash_shingles)
    return (
        pc.withColumn(
            "cont_a", F.col("inter").cast("double") / F.col("sza"))
        .withColumn(
            "cont_b", F.col("inter").cast("double") / F.col("szb"))
        .filter(F.greatest("cont_a", "cont_b") >= F.lit(threshold))
        .select("a", "b", "cont_a", "cont_b")
    )


def containment_oracle_sql(threshold: float = 0.8, table: str = "documents",
                           id_col: str = "doc_id",
                           max_df: int | None = None) -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh_list = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    cap = (
        f"WHERE s IN (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {max_df})"
        if max_df is not None
        else ""
    )
    return f"""
WITH sh0 AS (
  SELECT {id_col}, unnest({sh_list}) AS s FROM {table}
),
sh AS (SELECT * FROM sh0 {cap}),
sizes AS (SELECT {id_col}, count(*) AS sz FROM sh GROUP BY {id_col}),
inter AS (
  SELECT x.{id_col} AS a, y.{id_col} AS b, count(*) AS inter
  FROM sh x JOIN sh y ON x.s = y.s AND x.{id_col} < y.{id_col}
  GROUP BY x.{id_col}, y.{id_col}
)
SELECT a, b,
       CAST(inter AS DOUBLE) / sa.sz AS cont_a,
       CAST(inter AS DOUBLE) / sb.sz AS cont_b
FROM inter JOIN sizes sa ON sa.{id_col} = a JOIN sizes sb ON sb.{id_col} = b
WHERE greatest(CAST(inter AS DOUBLE) / sa.sz, CAST(inter AS DOUBLE) / sb.sz)
      >= {threshold}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path for fuzzy dedup)
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-permutation MinHash over 3-word shingles, computed as ONE hash
    aggregate: explode shingles, then k parallel min() aggregations
    (map-side combined). Permutations use the standard double-hashing
    construction h_i = (h1 + i*h2) mod p (Kirsch-Mitzenmacher): 2 xxhash64
    evaluations per shingle instead of k, the rest is cheap modular
    arithmetic in the 31-bit domain (overflow-safe under ANSI mode).
    No per-seed cross join — the classic explode×permutation blowup is
    avoided; shuffle carries only fixed k-long signatures.

    Why not a zero-shuffle per-row HOF (transform over k with a nested
    array_min)? Measured ~8x SLOWER at sf0.1: Catalyst's projection
    collapse inlines the shingle-array subexpression into each of the k
    lambda evaluations, re-shingling every row k times. The explode +
    k-min aggregate evaluates shingles once and its exchange carries one
    combined row per doc — the shuffle is cheaper than the recompute."""
    p = 2_147_483_647  # 2^31 - 1
    sh = (
        shingle_frame(docs, text_col, id_col)
        .withColumn("m1", F.pmod(F.xxhash64(F.col("sh")), F.lit(p)))
        .withColumn("m2", F.pmod(F.xxhash64(F.lit(42), F.col("sh")), F.lit(p - 1)) + 1)
    )
    aggs = [
        F.min(F.pmod(F.col("m1") + F.lit(i) * F.col("m2"), F.lit(p))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


#: per-bucket i<j pair expansion over a sorted member list ``m`` of
#: struct<i: id, s: payload>. Reference form of the chained-Generate
#: rewrite (see _pair_expand); not used on any query path since r12.
_BUCKET_PAIRS_EXPR = (
    "flatten(transform(m, (x, i) -> "
    "transform(slice(m, i + 2, size(m)), y -> "
    "struct(x.i as a, y.i as b, x.s as siga, y.s as sigb))))"
)


def _bucket_pairs(banded: DataFrame, id_col: str, sig_col: str,
                  bucket_cols: list[str], max_bucket: int) -> DataFrame:
    """Candidate pairs from LSH buckets WITHOUT a self-join: group members
    per bucket, expand i<j pairs from the (id-sorted) member list.

    vs. the classic two-branch self-join this evaluates the signature
    pipeline ONCE (a self-join re-executes the whole upstream plan per
    branch) and shuffles each signature once, keyed by the compact bucket
    id. ``max_bucket`` caps pathological buckets — at 100 TB a hot bucket
    means thousands of near-identical documents, which exact hash dedup
    (exact_dedup) should have removed first; expanding its O(B²) pairs is
    never the right plan. Capped buckets are dropped (documented skew knob;
    raise it if exact dedup is not run upstream)."""
    members = (
        banded.groupBy(*bucket_cols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("i"), F.col(sig_col).alias("s"))
                )
            ).alias("m")
        )
        .filter((F.size("m") >= 2) & (F.size("m") <= max_bucket))
    )
    return (
        _pair_expand(members)
        .select(
            F.col("_x.i").alias("a"), F.col("_y.i").alias("b"),
            F.col("_x.s").alias("siga"), F.col("_y.s").alias("sigb"),
        )
        .dropDuplicates(["a", "b"])
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5, text_col: str = "text",
                      id_col: str = "doc_id", max_bucket: int = 1024) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified by estimated Jaccard.

    Signatures are split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band hash become candidates. Pair generation is
    per-bucket id-list expansion — one shuffle keyed by (band, band_hash)
    carrying only 16-byte rows, no O(n²), no self-join re-execution; skew is
    bounded by ``max_bucket``. Candidates then join the signature table back
    and are scored by signature agreement (the unbiased Jaccard estimate),
    filtered at ``threshold``.

    At 100 TB this is the intended fuzzy-dedup path (run exact_dedup first
    so identical content doesn't flood buckets)."""
    r = num_hashes // bands
    # signatures materialize once (lazy checkpoint): the banding branch and
    # the two score-join probes all read the same blocks
    sig = minhash_signatures(docs, num_hashes, text_col, id_col).localCheckpoint(
        eager=False
    )
    # band rows carry ONLY (id, band, band-hash) — 16 bytes of key, not the
    # whole k-long signature. Replicating signatures into every band row
    # would multiply the band shuffle by bands x 8 x num_hashes bytes/doc
    # (terabytes at 1e9 docs); instead candidates join the signature table
    # back afterward — candidate volume is bucket-capped and tiny relative
    # to the corpus, so the two probe joins are the cheap side.
    banded = sig.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b as band, xxhash64(slice(sig, b * {r} + 1, {r})) as bh))"
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    members = (
        banded.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("m"))
        .filter((F.size("m") >= 2) & (F.size("m") <= max_bucket))
    )
    cand = (
        _pair_expand(members)
        .select(F.col("_x").alias("a"), F.col("_y").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sa = sig.select(F.col(id_col).alias("a"), F.col("sig").alias("siga"))
    sb = sig.select(F.col(id_col).alias("b"), F.col("sig").alias("sigb"))
    est = (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "est_jaccard",
            F.expr(
                "cast(size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v)) as double)"
                f" / {num_hashes}"
            ),
        )
    )
    return est.filter(F.col("est_jaccard") >= F.lit(threshold)).select(
        "a", "b", "est_jaccard"
    )


# ---------------------------------------------------------------------------
# Near-dup resolution: pairs -> connected components -> keep/drop decisions
# ---------------------------------------------------------------------------

def _driver_union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Exact min-label components on the driver: union-find with path
    compression, roots chosen as the minimum member id (matching HashMin's
    converged labels exactly). Only used under ``driver_limit`` edges."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def component_labels(pairs: DataFrame, max_iter: int = 20,
                     driver_limit: int = 100_000) -> DataFrame:
    """Connected-component labels of the near-dup pair graph: one
    ``(_cc_node, component)`` row per id incident to an edge of ``pairs``
    (columns ``a``, ``b``, any orderable id type), where component = the
    minimum id reachable. Ids with no edge have no row; an empty graph
    gives an empty frame. The key name is reserved so that no caller's id
    column collides with it in a join.

    ``driver_limit`` is the scale-adaptive cutover: a near-dup EDGE set is
    tiny relative to the corpus (it is the duplicate graph, not the data),
    and when it fits comfortably on the driver, iterative distributed label
    propagation is pure overhead — each round costs scheduler latency on a
    frame of a few hundred rows. Up to the limit the (materialized) edges
    are collected and resolved by exact union-find, and the labels come
    back as a ``local_frame``; one bounded collect of ``driver_limit + 1``
    edges both decides the path and fetches the edges — the same
    small-graph/large-graph split production graph engines make. Above
    it, labels come from distributed min-label propagation (the standard
    "HashMin" algorithm); ``0`` forces that path. Both give the same
    labels.

    HashMin: every node starts labeled with itself; each round a node
    adopts the minimum label among itself and its neighbors; converged
    when no label changes. Rounds needed = graph diameter — near-dup
    clusters are shallow (a handful of hops), so this terminates in a few
    rounds. If ``max_iter`` is exhausted before convergence the labels may
    be WRONG (split components), so that case raises rather than silently
    returning. The iteration runs over edge-INCIDENT nodes only — at
    100 TB the near-dup graph touches a small fraction of the corpus. Each
    round is one join on the (tiny) edge set + a groupBy on node — no
    driver-side graph. Convergence detection rides on monotonicity: labels
    only ever decrease, so the decimal-summed label total strictly
    decreases iff any label changed — ONE map-side-combined aggregate per
    round instead of an old-vs-new shuffle join. ``localCheckpoint``
    truncates the growing lineage per round, keeping the plan O(1) instead
    of O(iterations) (the classic iterative-Spark pitfall)."""
    # materialize the edge list once: the bounded driver collect and the
    # symmetric-closure branches reuse the same blocks instead of
    # re-running the (possibly expensive) pair-generation pipeline
    edges = pairs.select("a", "b").localCheckpoint(eager=False)
    # the label schema derives from the edge frame's id type, so either
    # path handles any orderable id (string doc ids included) — a
    # hardcoded long would make behavior depend on edge COUNT
    id_type = edges.schema["a"].dataType
    rows = edges.limit(driver_limit + 1).collect() if driver_limit else []
    if driver_limit and len(rows) <= driver_limit:
        labels = _driver_union_find([(r["a"], r["b"]) for r in rows])
        return local_frame(
            pairs.sparkSession,
            list(labels.items()),
            T.StructType([
                T.StructField("_cc_node", id_type),
                T.StructField("component", id_type),
            ]),
        )
    # symmetric closure PLUS self-loops (v, v): with the self-edge in place a
    # node's own label flows through the same neighbor-min as everyone
    # else's, so each round is ONE join + ONE aggregation — the usual second
    # join (folding old labels back in with least/coalesce) disappears.
    # Self-loops only exist for edge-incident nodes, so the frame stays
    # O(edges), not O(corpus).
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # no dedup of sym: min-aggregation is duplicate-insensitive, so spending
    # a full shuffle to distinct the edge list buys nothing
    sym = sym.unionByName(sym.select("a", F.col("a").alias("b"))).localCheckpoint(
        eager=False
    )
    # round 0 fused into initialization: label = min(self, neighbors)
    # straight off the (self-looped) edge list — one aggregation, no join
    labels = sym.groupBy(F.col("a").alias("_cc_node")).agg(
        F.min("b").alias("component"))
    # Convergence probe, type-aware so non-numeric ids (string doc ids)
    # work in BOTH execution paths:
    #   * numeric ids — sum the labels as decimal(38,0): exact far beyond
    #     100 TB node counts (int64 would overflow at ~1e6 nodes with
    #     1e12-scale ids), and labels only ever decrease, so an unchanged
    #     total PROVES convergence;
    #   * any other type — sum xxhash64(label) as decimal(38,0): an
    #     unchanged total implies convergence up to a ~2^-64-per-round hash
    #     collision (any label change perturbs the sum otherwise).
    if isinstance(id_type, T.NumericType):
        probe = F.col("component").cast("decimal(38,0)")
    else:
        probe = F.xxhash64(F.col("component")).cast("decimal(38,0)")
    total = None
    for it in range(max_iter):
        new = (
            sym.join(labels, sym["b"] == labels["_cc_node"])
            .groupBy(F.col("a").alias("_cc_node"))
            .agg(F.min("component").alias("component"))
            # lazy: the convergence aggregate below is the materializing
            # action, so each round runs ONE job, and later rounds read the
            # checkpointed blocks
            .localCheckpoint(eager=False)
        )
        new_total = new.agg(
            F.coalesce(F.sum(probe), F.lit(0)).alias("t")
        ).collect()[0]["t"]
        labels = new
        if total is not None and new_total == total:
            return labels
        total = new_total
    raise RuntimeError(
        f"component_labels did not converge in max_iter={max_iter} rounds; "
        "labels would be wrong (components split). Raise max_iter — rounds "
        "needed equals the near-dup graph diameter."
    )


def connected_components(pairs: DataFrame, ids: DataFrame,
                         id_col: str = "doc_id", max_iter: int = 20,
                         driver_limit: int = 100_000) -> DataFrame:
    """Connected components over a near-dup pair frame: the
    :func:`component_labels` of ``pairs`` (driver union-find up to
    ``driver_limit`` edges, HashMin above; ``0`` forces HashMin) stitched
    back onto every id of ``ids`` with one left join. Ids with no edge
    never enter the label computation and label themselves here. The join
    carries no hint: the driver labels are a local relation whose size the
    planner knows exactly (so it broadcasts them), and AQE sizes the
    checkpointed HashMin labels.

    Returns ``(id_col, component)`` where component = min id reachable;
    singleton docs are their own component."""
    ids = ids.select(id_col)
    labels = component_labels(pairs, max_iter, driver_limit)
    return ids.join(labels, ids[id_col] == labels["_cc_node"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
    )


def neardup_dedup(docs: DataFrame, pairs: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """End-to-end fuzzy-dedup decision: resolve near-dup pairs into
    components (:func:`connected_components`) and keep the minimum id per
    component (the deterministic representative, matching exact_dedup's
    keep rule). Returns ``(id_col, component, is_kept)`` for every
    document; a pipeline that needs only the kept rows can instead
    anti-join the non-representatives of :func:`component_labels`, as
    ``curate_corpus`` does."""
    cc = connected_components(pairs, docs.select(id_col), id_col)
    return cc.withColumn("is_kept", F.col("component") == F.col(id_col))


def _components_cte(pairs_sql: str, table: str, id_col: str) -> str:
    """The shared recursive-CTE text computing min-reachable-id components
    over the symmetric closure — the single source both component oracles
    (q_n14's keep rule and q_n46's keep-longest rule) build on, so a fix
    to edge symmetrization or reachability applies to both."""
    return f"""pairs AS ({pairs_sql}),
edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach(node, r) AS (
  SELECT {id_col}, {id_col} FROM {table}
  UNION
  SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.node
),
cc AS (SELECT node AS {id_col}, min(r) AS component FROM reach GROUP BY node)"""


def connected_components_oracle_sql(pairs_sql: str, table: str = "documents",
                                    id_col: str = "doc_id") -> str:
    """Recursive-CTE oracle for connected_components: min reachable id per
    node over the symmetric closure of the pair set."""
    return f"""
WITH RECURSIVE {_components_cte(pairs_sql, table, id_col)}
SELECT {id_col}, component, (component = {id_col}) AS is_kept
FROM cc ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# SimHash (portable md5-nibble construction — oracle-matchable)
# ---------------------------------------------------------------------------

#: 60-bit SimHash from word md5s: bit b of a word = bit (b%4) of hex nibble
#: (b div 4) of md5(word); per-doc bit b = sign of sum over words of ±1.
#: Evaluated in three hoisted passes so md5 runs ONCE per word:
#:   words -> md5 hex -> 60-bit int word-hash -> per-bit sign sums -> simhash.
#: Value-identical fast form: hex digit j of the md5 carries weight
#: 16^(j-1) (the FIRST hex char is the LOWEST nibble), which is exactly
#: conv(reverse(prefix), 16, 10) — one md5 + one conv per word instead of
#: md5 + 15 interpreted instr/substring/shift steps (transform() lambdas
#: never reach codegen). Equivalence pinned in test_dedup.
_WORD_HASHES_EXPR = (
    "transform({ws}, w -> "
    "cast(conv(reverse(substr(md5(w), 1, 15)), 16, 10) as bigint))"
)

#: `element_at(transform(array(<hashes>), hs -> body), 1)` binds the word-hash
#: array to a lambda variable, forcing exactly-one evaluation per row even if
#: Catalyst collapses the projections (an attribute would be re-inlined and
#: re-evaluated 60x inside the per-bit lambda).
SIMHASH_EXPR = (
    "element_at(transform(array({hashes}), hs -> "
    "aggregate("
    " transform(sequence(0, 59), b -> struct(b as b,"
    "  aggregate(hs, 0L, (acc, h) -> acc"
    "   + 2 * (shiftright(h, cast(b as int)) & 1) - 1) as s)),"
    " 0L, (acc, x) -> acc + if(x.s > 0, shiftleft(1L, cast(x.b as int)), 0L))"
    "), 1)"
)


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document. Entirely per-row higher-order-function
    arithmetic — zero shuffle, codegen'd, embarrassingly parallel at any
    scale. md5-nibble bits keep it engine-portable for the oracle."""
    ws = WORDS_EXPR.format(col=text_col)
    hashes = _WORD_HASHES_EXPR.format(ws=ws)
    return fan_out(docs.select(id_col, text_col), id_col).select(
        id_col, F.expr(SIMHASH_EXPR.format(hashes=hashes)).alias("simhash")
    )


def simhash_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                       where: str = "TRUE") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH words AS (
  SELECT {id_col}, unnest({ws}) AS w FROM {table} WHERE {where}
),
bits AS (
  SELECT {id_col}, r.range AS b,
         SUM(2 * (((strpos('0123456789abcdef', substr(md5(w), (r.range // 4) + 1, 1)) - 1)
                   >> (r.range % 4)) & 1) - 1) AS s
  FROM words CROSS JOIN range(0, 60) r
  GROUP BY {id_col}, r.range
)
SELECT {id_col},
       SUM(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END)::BIGINT AS simhash
FROM bits GROUP BY {id_col} ORDER BY {id_col}
"""


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3,
                          text_col: str = "text", id_col: str = "doc_id",
                          banded: bool = True, max_bucket: int = 4096) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    banded=True (scale path): split the 60 bits into max_hamming+1 bands —
    by pigeonhole any pair within the radius agrees exactly on ≥1 band, so
    band-bucket expansion (_bucket_pairs: simhash computed once, one shuffle
    on the compact band key) finds all pairs without O(n²). banded=False is
    the small-n oracle surface (plain a<b self-join)."""
    sh = simhash(docs, text_col, id_col)
    if banded:
        nb = max_hamming + 1
        width = 60 // nb
        bandcol = F.explode(
            F.expr(
                f"transform(sequence(0, {nb - 1}), b -> struct(b as band,"
                f" (shiftright(simhash, b * {width}) & {(1 << width) - 1}) as bh))"
            )
        ).alias("bb")
        banded_df = sh.select(id_col, "simhash", bandcol).select(
            id_col, "simhash", "bb.band", "bb.bh"
        )
        cand = _bucket_pairs(banded_df, id_col, "simhash", ["band", "bh"], max_bucket)
        cand = cand.select("a", "b", F.col("siga").alias("ha"), F.col("sigb").alias("hb"))
    else:
        a = sh.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
        b = sh.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
        cand = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("a", "b", "hamming")
    )


def simhash_neardup_oracle_sql(max_hamming: int = 3, table: str = "documents",
                               id_col: str = "doc_id", where: str = "TRUE") -> str:
    inner = simhash_oracle_sql(table, id_col, where)
    return f"""
WITH sh AS ({inner})
SELECT x.{id_col} AS a, y.{id_col} AS b,
       bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
FROM sh x JOIN sh y ON x.{id_col} < y.{id_col}
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (exact, quantized — oracle-matchable)
# ---------------------------------------------------------------------------

#: exact int64 dot product of two float vectors quantized at 1e-6.
QDOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " cast(round(cast(x as double) * 1000000.0d) as bigint)"
    " * cast(round(cast(y as double) * 1000000.0d) as bigint)), 0L, (acc, v) -> acc + v)"
)


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Pairs with cosine >= threshold, computed exactly on 1e-6-quantized
    int64 vectors: cos>=t  ⟺  dot>0 ∧ dot² >= t²·|a|²·|b|², with dot/norms as
    exact ints and the comparison in doubles derived from them — bit-stable
    across engines.

    This plain self-join is the verification/oracle surface; the scale path
    buckets by LSH first (similarity.lsh_topk) and applies the same exact
    predicate to candidates only."""
    q = fan_out(emb, id_col).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.expr(QDOT_EXPR.format(a=vec_col, b=vec_col)).alias("nrm"),
    )
    a = q.select(F.col(id_col).alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = q.select(F.col(id_col).alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    t2 = threshold * threshold
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("dot", F.expr(QDOT_EXPR.format(a="va", b="vb")))
        .filter(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("double") * F.col("dot").cast("double")
                >= F.lit(t2) * F.col("na").cast("double") * F.col("nb").cast("double")
            )
        )
        .select("a", "b", "dot")
    )


def embedding_neardup_oracle_sql(threshold: float = 0.9, table: str = "embeddings",
                                 id_col: str = "vec_id", where: str = "TRUE") -> str:
    qdot = (
        "list_sum(list_transform(range(1, 65), i ->"
        " round(CAST({a}[i] AS DOUBLE) * 1000000.0)::BIGINT"
        " * round(CAST({b}[i] AS DOUBLE) * 1000000.0)::BIGINT))::BIGINT"
    )
    t2 = threshold * threshold
    return f"""
WITH q AS (
  SELECT {id_col}, embedding AS v,
         {qdot.format(a='embedding', b='embedding')} AS nrm
  FROM {table} WHERE {where}
)
SELECT x.{id_col} AS a, y.{id_col} AS b,
       {qdot.format(a='x.v', b='y.v')} AS dot
FROM q x JOIN q y ON x.{id_col} < y.{id_col}
WHERE {qdot.format(a='x.v', b='y.v')} > 0
  AND CAST({qdot.format(a='x.v', b='y.v')} AS DOUBLE) * CAST({qdot.format(a='x.v', b='y.v')} AS DOUBLE)
      >= {t2} * CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)
ORDER BY a, b
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

def dedup_against_corpus(batch: DataFrame, corpus: DataFrame,
                         max_hamming: int = 3, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Drop from ``batch`` every document that duplicates the existing
    ``corpus`` — the incremental-ingest shape (yesterday's corpus is
    immutable; today's crawl must only add genuinely new material). Two
    stages, cheap first:

    1. exact: md5(text) LEFT ANTI against the corpus digest set — only
       16-byte digests shuffle, never text.
    2. near: banded 60-bit SimHash (pigeonhole over ``max_hamming + 1``
       bands — exact recall at the radius) joined batch-bands ×
       corpus-bands on the compact ``(band, bh)`` key; candidates filtered
       by true hamming; surviving batch ids LEFT ANTI'd.

    Returns the surviving batch rows, all columns. Scale: no self-join
    anywhere; both joins key on digests/band-hashes (bytes, not text);
    corpus text is read once for digests+simhash and never shuffled.
    """
    nb = max_hamming + 1
    width = 60 // nb
    band_expr = (
        f"transform(sequence(0, {nb - 1}), b -> struct(b as band,"
        f" (shiftright(simhash, b * {width}) & {(1 << width) - 1}) as bh))"
    )

    # ONE signature scan per side (r12): each side's md5 digest AND
    # 60-bit simhash come from a single fanned-out projection that is
    # checkpointed. Before, digests and bands were separate lineages —
    # the corpus text was scanned twice, and the band join's inferred
    # isnotnull(bh) filter was pushed below the fan_out exchange,
    # re-evaluating the ENTIRE simhash chain single-task on the scan
    # side (two 1.9 s one-task stages at sf0.1). The checkpoints sever
    # the plan, so the expensive signatures compute exactly once,
    # post-fan-out, and only (id, 16-byte digest, 8-byte simhash) rows
    # are materialized — text still never shuffles.
    ws = WORDS_EXPR.format(col=text_col)
    hashes = _WORD_HASHES_EXPR.format(ws=ws)

    def _sig(df: DataFrame) -> DataFrame:
        return (
            fan_out(df.select(id_col, text_col), id_col)
            .select(
                F.col(id_col),
                F.md5(F.col(text_col)).alias("_digest"),
                F.expr(SIMHASH_EXPR.format(hashes=hashes)).alias("simhash"),
            )
            .localCheckpoint(eager=False)
        )

    sig_b = _sig(batch)
    sig_c = _sig(corpus)
    digests = sig_c.select("_digest").distinct()
    fresh_sig = sig_b.join(digests, "_digest", "left_anti")

    def _bands(sig: DataFrame, side: str) -> DataFrame:
        return (
            sig.select(
                F.col(id_col).alias(side),
                F.col("simhash").alias(f"sh_{side}"),
                F.explode(F.expr(band_expr)).alias("bb"),
            )
            .select(side, f"sh_{side}", "bb.band", "bb.bh")
        )

    # The band join's INPUT is small (4 rows/doc of 24 bytes) but its OUTPUT
    # is the candidate-pair explosion — template-heavy corpora collide on
    # whole bands, so a near-dup-rich batch can emit orders of magnitude
    # more pairs than band rows. AQE sizes post-shuffle partitions by MAP
    # output and would coalesce this join to ~1 task, serializing the
    # hamming filter exactly when it is busiest; an explicit numbered
    # repartition on the join keys pins the parallelism (AQE honors
    # user-specified counts) and co-partitions both sides.
    n_par = batch.sparkSession.sparkContext.defaultParallelism
    near_hit = (
        _bands(fresh_sig, "nb_id").repartition(n_par, "band", "bh")
        .join(_bands(sig_c, "cp_id").repartition(n_par, "band", "bh"),
              ["band", "bh"])
        .filter(
            F.bit_count(F.col("sh_nb_id").bitwiseXOR(F.col("sh_cp_id")))
            <= F.lit(max_hamming)
        )
        .select(F.col("nb_id").alias(id_col))
        .distinct()
    )
    # output pass stays ROW-level on the digest (the oracle's `fresh` CTE
    # is row-level; an id-level semi-join would diverge on duplicate-id
    # batches) — one md5 per row on the final batch scan, no simhash
    fresh = (
        batch.withColumn("_digest", F.md5(F.col(text_col)))
        .join(digests, "_digest", "left_anti")
        .drop("_digest")
    )
    return fresh.join(near_hit, id_col, "left_anti")


def dedup_against_corpus_oracle_sql(corpus_where: str, max_hamming: int = 3,
                                    table: str = "documents",
                                    id_col: str = "doc_id",
                                    cols: str = "*") -> str:
    """ANSI oracle: corpus = rows WHERE ``corpus_where``; batch = the rest."""
    shc = simhash_oracle_sql(table, id_col, corpus_where)
    shb = simhash_oracle_sql("fresh", id_col)
    return f"""
WITH corpus AS (SELECT * FROM {table} WHERE {corpus_where}),
batch AS (SELECT * FROM {table} WHERE NOT ({corpus_where})),
fresh AS (
  SELECT * FROM batch WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)
),
shb AS ({shb}),
shc AS ({shc}),
hits AS (
  SELECT DISTINCT b.{id_col} FROM shb b JOIN shc c
  ON bit_count(xor(b.simhash, c.simhash)) <= {max_hamming}
)
SELECT {cols} FROM fresh
WHERE {id_col} NOT IN (SELECT {id_col} FROM hits)
ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Exact repeated-n-gram (substring) duplication — span-level dedup
# ---------------------------------------------------------------------------

def repeated_ngram_spans(docs: DataFrame, n: int = 8, min_docs: int = 2,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Span-level exact duplication: every position where a run of ``n``
    consecutive tokens also appears in at least ``min_docs - 1`` OTHER
    documents — the work-list for substring-level dedup (the span-removal
    step LLM-corpus pipelines run after document-level dedup, since long
    verbatim boilerplate hides inside otherwise-unique documents; document
    granularity cannot see it). Returns ``(id_col, pos, window_hash,
    n_docs_w)`` with ``pos`` the 1-based token offset.

    Construction (engine-portable): tokenize on whitespace, md5 every
    n-token window, count DISTINCT documents per window hash, keep windows
    crossing ``min_docs``. Exact string hashing -> the DuckDB oracle
    recomputes identical hex.

    Scale: the explode carries (id, pos, 32-hex hash) — never the text —
    at a fan-out of ~one row per token; ONE shuffle aggregates per-hash doc
    counts (map-side combined), one more joins the qualifying hashes back.
    The duplicated-hash side is the output of a HAVING over the full window
    population, bounded by actual duplication, not corpus size. At 100 TB
    swap md5 for xxhash64 (8-byte shuffle keys; ~1e-9 collisions at 1e9
    distinct windows) — md5 keeps this form oracle-exact."""
    ws = WORDS_EXPR.format(col=text_col)
    # hoisted word array: slice over an inlined split would re-split the
    # text per window (O(words²) splits per doc)
    spans = (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"case when size(_ws) >= {n} then "
                    f"transform(sequence(1, size(_ws) - {n} + 1), "
                    f"i -> struct(i as pos, "
                    f"md5(array_join(slice(_ws, i, {n}), ' ')) as wh)) "
                    f"else array() end"
                )
            ).alias("s"),
        )
        .select(id_col, F.col("s.pos").cast("long").alias("pos"),
                F.col("s.wh").alias("window_hash"))
    )
    spans = spans.localCheckpoint(eager=False)  # explode runs once
    hot = (
        spans.groupBy("window_hash")
        .agg(F.countDistinct(id_col).cast("long").alias("n_docs_w"))
        .filter(F.col("n_docs_w") >= min_docs)
    )
    return spans.join(hot, "window_hash").select(
        id_col, "pos", "window_hash", "n_docs_w"
    )


def repeated_ngram_census(docs: DataFrame, n: int = 8, min_docs: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Per-document substring-duplication census over
    :func:`repeated_ngram_spans`: ``(id_col, n_windows, n_dup, dup_ratio)``
    where ``dup_ratio`` = duplicated windows / total windows — the scalar
    report that decides whether a document needs span-level cleaning (vs
    whole-document dropping). Documents shorter than ``n`` tokens have zero
    windows and ratio 0.0.

    Scale: inherits the span construction's two shuffles plus one
    map-side-combined per-doc count; output is one row per document."""
    ws = WORDS_EXPR.format(col=text_col)
    totals = docs.select(
        F.col(id_col),
        F.expr(
            f"cast(greatest(0, size({ws}) - {n} + 1) as long)"
        ).alias("n_windows"),
    )
    dup = (
        repeated_ngram_spans(docs, n=n, min_docs=min_docs,
                             text_col=text_col, id_col=id_col)
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_dup"))
    )
    return (
        totals.join(dup, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
            F.when(F.col("n_windows") > 0,
                   F.coalesce(F.col("n_dup"), F.lit(0))
                   / F.col("n_windows").cast("double"))
            .otherwise(F.lit(0.0)).alias("dup_ratio"),
        )
    )


def repeated_ngram_census_oracle_sql(n: int = 8, min_docs: int = 2,
                                     table: str = "documents",
                                     id_col: str = "doc_id") -> str:
    """DuckDB oracle: identical window-md5 construction over 1-based list
    slices (inclusive ranges), HAVING over distinct doc counts."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH toks AS (
  SELECT {id_col}, {ws} AS ws FROM {table}
),
spans AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(ws) - {n} + 2),
                i -> md5(array_to_string(ws[i:i + {n} - 1], ' ')))) AS wh
  FROM toks WHERE len(ws) >= {n}
),
hot AS (
  SELECT wh FROM spans GROUP BY wh
  HAVING count(DISTINCT {id_col}) >= {min_docs}
),
dup AS (
  SELECT {id_col}, count(*)::BIGINT AS n_dup
  FROM spans WHERE wh IN (SELECT wh FROM hot)
  GROUP BY {id_col}
)
SELECT t.{id_col},
       greatest(0, len(t.ws) - {n} + 1)::BIGINT AS n_windows,
       coalesce(d.n_dup, 0)::BIGINT AS n_dup,
       CASE WHEN len(t.ws) >= {n}
            THEN coalesce(d.n_dup, 0) / (len(t.ws) - {n} + 1)::DOUBLE
            ELSE 0.0 END AS dup_ratio
FROM toks t LEFT JOIN dup d ON t.{id_col} = d.{id_col}
ORDER BY t.{id_col}
"""


def ngram_novelty(batch: DataFrame, corpus: DataFrame,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: of a
    doc's distinct 3-word shingles, how many never occur anywhere in the
    corpus — ``(id, n_ngrams, n_novel, novelty_permille)``. The
    document-scored complement of :func:`~..curate.decontaminate`
    (doc-level boolean) and :func:`containment_pairs` (pair-level): a
    low-novelty batch is mostly restatement of the corpus, a
    high-novelty one adds new content — the standard dedup-aware data
    -valuation signal when growing a pretraining mix. Docs with fewer
    than 3 words have no shingles and score 0 novelty (nothing to
    judge), kept in the output so the frame stays total over the batch.

    Scale: the corpus reduces ONCE to its distinct shingle set (cache or
    materialize it when scoring many batches — the same reusable-index
    shape as q_n8c); one shuffle keyed by shingle for the membership
    join, one map-side-combined per-doc count. Integer permille, no
    float division."""
    sh_b = shingle_frame(batch, text_col, id_col)
    sh_c = shingle_frame(corpus, text_col, id_col).select("sh").distinct()
    per = (
        sh_b.join(sh_c.withColumn("_seen", F.lit(1)), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(
                F.when(F.col("_seen").isNull(), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        batch.select(id_col).join(per, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.expr(
                "case when coalesce(n_ngrams, 0) > 0 "
                "then n_novel * 1000 div n_ngrams else 0 end"
            ).cast("long").alias("novelty_permille"),
        )
    )


def ngram_novelty_oracle_sql(table: str = "documents",
                             id_col: str = "doc_id",
                             batch_where: str = "TRUE",
                             corpus_where: str = "TRUE") -> str:
    """DuckDB recomputation of :func:`ngram_novelty` over ``table`` split
    into batch/corpus by the two WHERE predicates."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh_list = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    return f"""
WITH sb AS (
  SELECT {id_col}, unnest({sh_list}) AS s FROM {table} WHERE {batch_where}
),
sc AS (
  SELECT DISTINCT unnest({sh_list}) AS s FROM {table} WHERE {corpus_where}
),
per AS (
  SELECT {id_col}, count(*)::BIGINT AS n_ngrams,
         sum(CASE WHEN s NOT IN (SELECT s FROM sc) THEN 1 ELSE 0 END)::BIGINT
           AS n_novel
  FROM sb GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(n_ngrams, 0)::BIGINT AS n_ngrams,
       coalesce(n_novel, 0)::BIGINT AS n_novel,
       (CASE WHEN coalesce(n_ngrams, 0) > 0
             THEN n_novel * 1000 // n_ngrams ELSE 0 END)::BIGINT
         AS novelty_permille
FROM (SELECT {id_col} FROM {table} WHERE {batch_where}) d
LEFT JOIN per USING ({id_col})
ORDER BY d.{id_col}
"""


def cluster_representatives(docs: DataFrame, pairs: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Quality-aware near-dup resolution: where neardup_dedup keeps the
    minimum id per component, real curation keeps the BEST member — here
    the standard keep-longest rule (score = exact character length,
    min-id tiebreak), the production default when no model scorer is
    wired in. Returns ``(id_col, component, score, is_kept)`` for every
    document.

    Scale: components as in neardup_dedup, then one argmax window keyed
    on the component — a single extra hash shuffle whose key count is the
    number of clusters, with the length projection computed map-side."""
    cc = connected_components(pairs, docs.select(id_col), id_col)
    scored = docs.select(
        id_col, F.length(text_col).cast("long").alias("score")
    )
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        cc.join(scored, id_col)
        .withColumn("is_kept", F.row_number().over(w) == 1)
        .select(id_col, "component", "score", "is_kept")
        .orderBy(id_col)
    )


def cluster_representatives_oracle_sql(pairs_sql: str,
                                       table: str = "documents",
                                       id_col: str = "doc_id") -> str:
    """The shared component CTE + the keep-longest argmax window."""
    return f"""
WITH RECURSIVE {_components_cte(pairs_sql, table, id_col)},
scored AS (
  SELECT cc.{id_col}, cc.component, length(d.text)::BIGINT AS score
  FROM cc JOIN {table} d USING ({id_col})
)
SELECT {id_col}, component, score,
       (row_number() OVER (PARTITION BY component
                           ORDER BY score DESC, {id_col} ASC) = 1) AS is_kept
FROM scored ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (exact tau-Jaccard, PPJoin-style)
# ---------------------------------------------------------------------------

def prefix_filter_join(docs: DataFrame, threshold: tuple[int, int] = (3, 5),
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """EXACT tau-Jaccard similarity join over distinct-word sets via
    prefix filtering (the PPJoin/AllPairs family, Chaudhuri et al. 2006;
    Xiao et al. 2008 — public algorithms, re-derived here): all pairs
    (a < b) with |A∩B| / |A∪B| >= tau, with tau given as the exact
    fraction ``p/q`` so every comparison stays integer.

    Why this exists next to MinHash-LSH: banding is approximate (recall
    < 1 by design); the prefix filter is a LOSSLESS candidate reduction.
    Order every document's tokens by GLOBAL (df, token) ascending — rarest
    first — and keep only the first ``|d| - ceil(tau*|d|) + 1`` tokens:
    any pair meeting tau MUST share at least one prefix token (if all
    shared tokens hid in both suffixes, the overlap could not reach the
    tau-implied minimum). Candidates come from an equi-join on prefix
    tokens only, then exact verification. Result is IDENTICAL to the
    brute-force join — the oracle recomputes it as O(n^2) list
    intersections in DuckDB.

    Scale shape: (1) explode distinct words — one shuffle on token for
    the df table, reused co-partitioned by the rank join; (2) per-doc
    prefix selection is a sort of EACH DOC'S OWN tokens (array sort in
    the row, no global rank materialization, no window); (3) the
    candidate join keys on PREFIX tokens, which are the globally RAREST
    by construction — df ordering is exactly the skew bound: hot
    boilerplate tokens sit in suffixes and never generate pairs;
    (4) verification joins the bounded candidate set back to the doc
    token arrays and intersects in-row (JVM array_intersect, no further
    explode). At 100 TB the win over the exact inverted-index join
    (ngram_jaccard_pairs) is that ONLY the ~(1-tau) rarest fraction of
    each posting list enters pair expansion, with zero recall loss.

    Returns ``(id_a, id_b, inter, size_a, size_b)`` — exact integers
    (empty-token docs are excluded: tau-Jaccard is undefined on empty
    sets and no non-empty set can match one).
    """
    p, q = threshold
    ws = WORDS_EXPR.format(col=text_col)
    base = (
        fan_out(docs, id_col)
        .select(
            F.col(id_col).alias("_id"),
            F.expr(f"array_distinct({ws})").alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .withColumn("sz", F.size("toks").cast("long"))
        .localCheckpoint(eager=False)
    )
    tok = base.select("_id", "sz", F.explode("toks").alias("tok"))
    df_tab = tok.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    # per-doc prefix: sort own tokens by global (df, tok), take the first
    # sz - ceil(p*sz/q) + 1 entries; ceil spelled with integer div
    prefix = (
        tok.join(df_tab, "tok")
        .groupBy("_id", "sz")
        .agg(F.expr("sort_array(collect_list(struct(df, tok)))").alias("o"))
        .select(
            "_id", "sz",
            F.expr(f"slice(o, 1, cast(sz - ((cast({p} as bigint) * sz"
                   f" + {q} - 1) div {q}) + 1 as int))").alias("pre"),
        )
        .select("_id", "sz", F.explode("pre").alias("s"))
        .select("_id", "sz", F.col("s.tok").alias("tok"))
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.expr("a._id < b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
            F.col("a.sz").alias("size_a"), F.col("b.sz").alias("size_b"),
        )
        .distinct()
    )
    verified = (
        cand
        .join(base.select(F.col("_id").alias("id_a"),
                          F.col("toks").alias("ta")), "id_a")
        .join(base.select(F.col("_id").alias("id_b"),
                          F.col("toks").alias("tb")), "id_b")
        .withColumn("inter",
                    F.expr("cast(size(array_intersect(ta, tb)) as bigint)"))
        .filter(F.expr(f"{q} * inter >= {p} * (size_a + size_b - inter)"))
    )
    return verified.select("id_a", "id_b", "inter", "size_a", "size_b")


def prefix_filter_join_oracle_sql(threshold: tuple[int, int] = (3, 5),
                                  table: str = "documents",
                                  id_col: str = "doc_id") -> str:
    """Brute-force recomputation: O(n^2) pair join with in-list exact
    intersections — feasible at oracle scale, and EQUAL to the prefix-
    filtered result by the lossless-candidate theorem the operator
    implements."""
    p, q = threshold
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH t AS (
  SELECT {id_col} AS id, list_distinct({ws}) AS s
  FROM {table}
), ne AS (
  SELECT id, s, len(s)::BIGINT AS sz FROM t WHERE len(s) > 0
)
SELECT a.id AS id_a, b.id AS id_b,
       len(list_intersect(a.s, b.s))::BIGINT AS inter,
       a.sz AS size_a, b.sz AS size_b
FROM ne a JOIN ne b ON a.id < b.id
WHERE {q} * len(list_intersect(a.s, b.s))
      >= {p} * (a.sz + b.sz - len(list_intersect(a.s, b.s)))
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Span-removal rewrite — the third step of substring-level dedup
# ---------------------------------------------------------------------------

def remove_duplicate_spans(docs: DataFrame, n: int = 8, min_docs: int = 2,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """The REWRITE step that :func:`repeated_ngram_spans` is the work-list
    for (Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" — public method, re-derived): spans detect cross-corpus
    verbatim runs; this produces the CLEANED corpus. Rule (deterministic,
    engine-portable): for every n-token window appearing in >= ``min_docs``
    documents, every document EXCEPT the one with the GLOBAL MIN id drops
    all tokens covered by that window. Overlap caveat (property-tested):
    when overlapping duplicated windows have different canonical owners, a
    doc can be canon for one window yet lose shared tokens through the
    other — so only a doc that is canon of (or absent from) every
    duplicated window it contains is guaranteed untouched.
    Returns ``(id_col, n_tokens, n_removed, cleaned_hash)`` with
    ``cleaned_hash`` = md5 of the space-joined surviving tokens — the
    whole rewrite is hash-checkable without shipping cleaned text.

    Scale shape: reuses the span pass (explode to (id, pos, 16-byte hash),
    ONE map-side-combined aggregate for (n_docs, min_id) per hash, one
    join back — never shuffling text). Removed positions per doc collapse
    to a COVERAGE SET built in-row: collect the bounded list of covered
    starts per doc (bounded by actual duplication), then one HOF filter
    over the token array — no per-token join, no window function. Docs
    with no duplicated spans never leave the scan unscathed... they take
    the left-anti path: a left join + coalesce keeps them at zero cost.
    At 100 TB the only sized state is the duplicated-window table
    (HAVING-bounded) and per-doc covered-start lists (token-count
    bounded); both are orders below corpus size. The twice-consumed
    ``base``/``spans`` frames deliberately RECOMPUTE (a second pruned
    columnar scan + explode) rather than localCheckpoint: measured at
    bench scale the checkpoints bought nothing (~1.5 s either way, the
    checkpoint write slightly NEGATIVE) while pinning block-manager
    storage for the whole session; on a cluster, a caller who measures
    the double scan dominating can persist() explicitly.

    BENCH NOTE (the r6/r7 "span_removal 2.2-2.4 s vs r5's 0.94 s" flag,
    VERDICT r7 #4 — named cause): the implementation is byte-identical
    to round 5; what changed in round 6 is the bench HARNESS, from
    per-query back-to-back best-of-3 to interleaved full-suite sweeps.
    This query generates unusually large whole-stage-codegen functions
    (two HOF lambdas over token arrays + per-window md5), so its
    first-execution cost (~2.2 s: codegen compile + JIT) is ~1.5x its
    warm cost (~1.4 s); back-to-back sampling measured the warm floor,
    interleaved sweeps re-pay the warmup every sweep because ~40 other
    plans churn the JVM code cache in between. Measured 2026-08-15:
    runs in one session go 2.2 -> 1.5 -> 1.4 s; all-variant floor is
    the same with/without checkpoints. A measurement artifact of the
    harness change, not a plan regression.
    """
    ws = WORDS_EXPR.format(col=text_col)
    base = (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.expr(ws).alias("toks"))
    )
    spans = (
        base.select(
            id_col,
            F.explode(
                F.expr(
                    f"case when size(toks) >= {n} then "
                    f"transform(sequence(1, size(toks) - {n} + 1), "
                    f"i -> struct(i as pos, "
                    f"md5(array_join(slice(toks, i, {n}), ' ')) as wh)) "
                    f"else array() end"
                )
            ).alias("s"),
        )
        .select(id_col, F.col("s.pos").alias("pos"), F.col("s.wh").alias("wh"))
    )
    dup = (
        spans.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("nd"), F.min(id_col).alias("canon"))
        .filter(F.col("nd") >= min_docs)
    )
    # covered window STARTS per non-canonical doc (bounded by duplication)
    starts = (
        spans.join(dup, "wh")
        .filter(F.col(id_col) != F.col("canon"))
        .groupBy(id_col)
        .agg(F.expr("sort_array(collect_set(pos))").alias("starts"))
    )
    return (
        base.join(starts, id_col, "left")
        .select(
            F.col(id_col),
            F.expr("cast(size(toks) as bigint)").alias("n_tokens"),
            F.expr(
                f"filter(transform(toks, (w, i) -> "
                f"case when exists(coalesce(starts, array()), "
                f"s -> i + 1 >= s and i + 1 < s + {n}) "
                f"then cast(null as string) else w end), w -> w is not null)"
            ).alias("kept"),
        )
        .select(
            id_col, "n_tokens",
            F.expr("n_tokens - cast(size(kept) as bigint)").alias("n_removed"),
            F.expr("md5(array_join(kept, ' '))").alias("cleaned_hash"),
        )
        .orderBy(id_col)
    )


def remove_duplicate_spans_oracle_sql(n: int = 8, min_docs: int = 2,
                                      table: str = "documents",
                                      id_col: str = "doc_id") -> str:
    """Independent recomputation: windows via UNNEST over generate_series,
    (n_docs, min_id) per window hash, covered positions per doc as a
    distinct-position set, cleaned text rebuilt by list comprehension over
    token indices — a different mechanism (position join vs HOF filter)
    that must agree hash-for-hash."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {ws} AS toks FROM {table}
), w AS (
  SELECT id, i AS pos,
         md5(array_to_string(toks[i:i+{n}-1], ' ')) AS wh
  FROM t, LATERAL UNNEST(generate_series(1, len(toks) - {n} + 1)) AS u(i)
  WHERE len(toks) >= {n}
), dup AS (
  SELECT wh, min(id) AS canon
  FROM w GROUP BY wh HAVING count(DISTINCT id) >= {min_docs}
), cov AS (
  SELECT DISTINCT w.id, w.pos + v.p AS cp
  FROM w JOIN dup USING (wh),
       LATERAL UNNEST(generate_series(0, {n} - 1)) AS v(p)
  WHERE w.id <> dup.canon
), covset AS (
  SELECT id, list(DISTINCT cp) AS cps FROM cov GROUP BY id
)
SELECT t.id AS {id_col},
       len(t.toks)::BIGINT AS n_tokens,
       (len(t.toks) - len([x for x in generate_series(1, len(t.toks))
                           IF NOT list_contains(coalesce(c.cps, []), x)]))::BIGINT
         AS n_removed,
       md5(coalesce(array_to_string(
         [t.toks[x] for x in generate_series(1, len(t.toks))
          IF NOT list_contains(coalesce(c.cps, []), x)], ' '), '')) AS cleaned_hash
FROM t LEFT JOIN covset c ON t.id = c.id
ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Line / paragraph dedup (C4 rule)
# ---------------------------------------------------------------------------

def _lines_exprs(text_col: str, delim: str | None,
                 block_tokens: int) -> str:
    """The ``array<string>`` of a document's LINES, in both modes:
    ``delim`` splits on a real separator (newline corpora; each line
    trimmed, empties dropped); ``delim=None`` falls back to
    NON-OVERLAPPING ``block_tokens``-token segments — the paragraph
    unit for delimiter-free text (the shipped fixtures), and distinct
    from repeated_ngram_spans' OVERLAPPING windows.

    NULL text reads as '' (0 lines, md5('') cleaned hash) — matching
    the oracle's coalesce, review-found asymmetry. The delimiter is a
    LITERAL: Spark ``split()``'s pattern argument is a Java regex, so
    every char is regex-escaped before the SQL-literal escaping (a '.'
    or '|' delimiter must not split everywhere, and '(' must not throw
    PatternSyntaxException); DuckDB's string_split is literal-only, so
    the two sides agree by construction."""
    text_col = f"coalesce({text_col}, '')"
    if delim is not None:
        import re as _re

        # re.escape backslash-escapes every non-alphanumeric — a form
        # Java regex accepts for all of them — and never alphanumerics
        d = (_re.escape(delim)
             .replace("\\", "\\\\").replace("'", "\\'"))
        return (f"filter(transform(split({text_col}, '{d}'), "
                "l -> trim(l)), l -> l <> '')")
    toks = WORDS_EXPR.format(col=text_col)
    b = block_tokens
    return (
        f"case when size({toks}) = 0 then array() "
        f"else transform(sequence(0, (size({toks}) - 1) div {b}), "
        f"i -> array_join(slice({toks}, i * {b} + 1, {b}), ' ')) end"
    )


def line_dedup(docs: DataFrame, *, block_tokens: int = 8,
               min_words: int = 3, min_count: int = 2,
               delim: str | None = None, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Corpus-global line-level dedup — C4's preprocessing rule (Raffel
    et al. 2020: discard any line occurring more than once in the
    corpus; kept here as keep-FIRST-occurrence) and CCNet's
    paragraph-hash dedup (Wenzek et al. 2020), the step that removes
    boilerplate (headers, cookie banners, nav bars) that DOCUMENT-level
    signatures (q_n1-9) cannot see. Completes the dedup canon's
    granularity ladder: document -> near-dup -> overlapping n-gram span
    (remove_duplicate_spans) -> line/paragraph (this).

    Rule, deterministic and engine-portable: a line participates when
    it has >= ``min_words`` words (C4's substance threshold — short
    list items never dedup); among the occurrences of an identical
    participating line (md5 equality), the one at the globally smallest
    ``(doc_id, line_pos)`` is canonical and survives; every other
    occurrence is dropped when the line occurs >= ``min_count`` times
    corpus-wide. Returns one row per doc:
    ``(id, n_lines, n_removed, cleaned_hash)`` with ``cleaned_hash`` =
    md5 of the space-joined surviving lines — the whole rewrite is
    hash-checkable without shipping cleaned text (q_n49's convention).

    Scale shape (the span-removal plan at line granularity): one pruned
    scan computes lines in-row; ONLY ``(id, lpos, 16-byte md5)`` rows
    ever shuffle — text never does. The census is one
    map-side-combined aggregate per line hash; its output is
    HAVING-bounded to hashes with >= min_count occurrences (orders
    below corpus size — boilerplate is repetitive, that is the point);
    per-doc removed-position lists are line-count bounded. The rebuild
    is a left join + one HOF filter over the in-row line array; docs
    with nothing removed take the coalesce path untouched. No window
    functions anywhere, so no single-task sort at any cardinality."""
    lines = _lines_exprs(text_col, delim, block_tokens)
    # Materialize the (id, lines) projection ONCE: it feeds the census
    # branch, the removed branch and the final rebuild join — without the
    # cut each branch re-ran the scan + line-split, and posexplode's
    # inferred size()>0 filter was pushed below the fan_out exchange,
    # re-evaluating the whole split chain single-task on the scan side
    # (measured r12: two 0.8 s one-task stages). The checkpoint severs
    # the plan, so the split runs exactly once, post-fan-out. At 100 TB
    # this is the stage boundary gated_exact_dedup already documents:
    # one write of the line arrays vs three scans + three splits.
    base = (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.expr(lines).alias("lines"))
        .localCheckpoint(eager=False)
    )
    wc = "size(filter(split(line, ' '), w -> w <> ''))"
    occ = (
        base.select(F.col(id_col),
                    F.posexplode("lines").alias("pos", "line"))
        .select(
            F.col(id_col),
            (F.col("pos") + 1).cast("long").alias("lpos"),
            F.expr("md5(line)").alias("lh"),
            F.expr(f"{wc} >= {min_words}").alias("part"),
        )
    )
    census = (
        occ.filter("part")
        .groupBy("lh")
        .agg(F.count("*").alias("n_occ"),
             F.min(F.struct(F.col(id_col).alias("cid"),
                            F.col("lpos").alias("cpos"))).alias("m"))
        .filter(F.col("n_occ") >= min_count)
    )
    removed = (
        occ.filter("part")
        .join(census, "lh")
        .filter(~((F.col(id_col) == F.col("m.cid"))
                  & (F.col("lpos") == F.col("m.cpos"))))
        .groupBy(id_col)
        .agg(F.expr("sort_array(collect_set(lpos))").alias("rm"))
    )
    return (
        base.join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.expr("cast(size(lines) as bigint)").alias("n_lines"),
            F.expr(
                "filter(transform(lines, (l, i) -> case when "
                "array_contains(coalesce(rm, array()), "
                "cast(i + 1 as bigint)) then cast(null as string) "
                "else l end), x -> x is not null)"
            ).alias("kept"),
        )
        .select(
            id_col, "n_lines",
            F.expr("n_lines - cast(size(kept) as bigint)")
            .alias("n_removed"),
            F.expr("md5(array_join(kept, ' '))").alias("cleaned_hash"),
        )
        .orderBy(id_col)
    )


def line_dedup_oracle_sql(block_tokens: int = 8, min_words: int = 3,
                          min_count: int = 2, delim: str | None = None,
                          table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """Independent DuckDB recomputation of :func:`line_dedup` — census
    via a two-step (min-id, then min-pos-within-min-id) canonical pick
    instead of Spark's struct-min, rebuild by index comprehension
    instead of the HOF filter; must agree hash-for-hash. NULL text
    reads as '' (matching the Spark side's coalesce); the delimiter is
    literal on both engines (string_split here, regex-quoted there)."""
    txt = "coalesce(text, '')"
    ws = f"[w for w in string_split({txt}, ' ') if w <> '']"
    if delim is not None:
        d = delim.replace("'", "''")
        lines = (f"[l for l in list_transform(string_split({txt}, "
                 f"'{d}'), l -> trim(l)) if l <> '']")
    else:
        b = block_tokens
        lines = (
            f"CASE WHEN len({ws}) = 0 THEN [] ELSE "
            f"list_transform(generate_series(0, (len({ws}) - 1) // {b}), "
            f"i -> array_to_string(({ws})[i * {b} + 1 : i * {b} + {b}], "
            "' ')) END"
        )
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {lines} AS lines FROM {table}
), occ AS (
  SELECT id, i::BIGINT AS lpos, md5(lines[i]) AS lh,
         len([w for w in string_split(lines[i], ' ')
              if w <> '']) >= {min_words} AS part
  FROM t, LATERAL UNNEST(generate_series(1, len(lines))) AS u(i)
), c1 AS (
  SELECT lh, count(*) AS n_occ, min(id) AS cid
  FROM occ WHERE part GROUP BY lh HAVING count(*) >= {min_count}
), canon AS (
  SELECT o.lh, c1.cid, min(o.lpos) AS cpos
  FROM occ o JOIN c1 ON o.lh = c1.lh AND o.id = c1.cid
  WHERE o.part GROUP BY o.lh, c1.cid
), rmset AS (
  SELECT o.id, list(DISTINCT o.lpos) AS rm
  FROM occ o JOIN canon c ON o.lh = c.lh
  WHERE o.part AND NOT (o.id = c.cid AND o.lpos = c.cpos)
  GROUP BY o.id
)
SELECT t.id AS {id_col}, len(t.lines)::BIGINT AS n_lines,
       (len(t.lines) - len([x for x in generate_series(1, len(t.lines))
         IF NOT list_contains(coalesce(r.rm, []), x)]))::BIGINT
         AS n_removed,
       md5(coalesce(array_to_string(
         [t.lines[x] for x in generate_series(1, len(t.lines))
          IF NOT list_contains(coalesce(r.rm, []), x)], ' '), ''))
         AS cleaned_hash
FROM t LEFT JOIN rmset r ON t.id = r.id
ORDER BY {id_col}
"""


def line_dedup_report(docs: DataFrame, *, block_tokens: int = 8,
                      min_words: int = 3, min_count: int = 2,
                      delim: str | None = None,
                      domain_col: str = "source",
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-domain boilerplate census — the data-card row a curation
    team reads after :func:`line_dedup`: how much of each source is
    repeated lines (CCNet reports exactly this per-shard dedup rate;
    a source whose removal fraction spikes is template-heavy — nav
    bars, cookie banners, licence footers). One row per domain:
    ``(domain, n_docs, n_lines, n_removed, removed_permille)`` with
    the permille an exact integer over the domain's line count.

    Scale: the line_dedup frame is (id, 3 ints, hash) — joining the
    (id, domain) projection back and one <= |domains| map-side agg
    adds nothing corpus-shaped to line_dedup's own profile."""
    per_doc = line_dedup(docs, block_tokens=block_tokens,
                         min_words=min_words, min_count=min_count,
                         delim=delim, text_col=text_col, id_col=id_col)
    return (
        per_doc.join(docs.select(id_col, domain_col), id_col)
        # NULL domains are legal rows: label them '<null>' on BOTH
        # engines (tokenizer_fertility's convention) — a raw NULL group
        # would also diverge in the final ordering (Spark ASC = NULLS
        # FIRST, DuckDB NULLS LAST)
        .groupBy(F.coalesce(F.col(domain_col).cast("string"),
                            F.lit("<null>")).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("n_removed").cast("long").alias("n_removed"),
        )
        .withColumn(
            "removed_permille",
            F.expr("CASE WHEN n_lines > 0 THEN (n_removed * 1000L) "
                   "div n_lines ELSE 0L END"),
        )
        .orderBy("domain")
    )


def line_dedup_report_oracle_sql(block_tokens: int = 8,
                                 min_words: int = 3, min_count: int = 2,
                                 delim: str | None = None,
                                 domain_col: str = "source",
                                 table: str = "documents",
                                 id_col: str = "doc_id") -> str:
    """DuckDB recomputation: the full line_dedup oracle nested as a
    CTE, joined back to the domain projection and aggregated."""
    inner = line_dedup_oracle_sql(block_tokens, min_words, min_count,
                                  delim, table, id_col)
    return f"""
WITH per_doc AS MATERIALIZED (
{inner}
)
SELECT coalesce(d.{domain_col}, '<null>') AS domain,
       count(*)::BIGINT AS n_docs,
       sum(p.n_lines)::BIGINT AS n_lines,
       sum(p.n_removed)::BIGINT AS n_removed,
       (CASE WHEN sum(p.n_lines) > 0
             THEN (sum(p.n_removed) * 1000) // sum(p.n_lines)
             ELSE 0 END)::BIGINT AS removed_permille
FROM per_doc p JOIN {table} d USING ({id_col})
GROUP BY coalesce(d.{domain_col}, '<null>') ORDER BY domain
"""
