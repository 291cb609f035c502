"""Corpus curation — the north-star operators composed into the pipeline a
100 TB training-data corpus actually runs (SURVEY.md §2.2 additions, end to
end): quality filter -> language filter -> exact dedup -> fuzzy dedup
(near-dup components) -> curated corpus.

Stage economics at scale (why the order matters):
  1. quality + lang-id are per-row projections / one broadcast-join groupBy —
     the cheapest stages run first and shrink the corpus before anything
     shuffles document content;
  2. exact dedup shuffles 16-byte digests of the survivors only;
  3. fuzzy dedup (shingle inverted index + components) — the most expensive
     stage — sees only the quality-filtered, exactly-deduped remainder, and
     its hot-bucket hazard is largely removed because identical content is
     already gone (operators/dedup.py max_bucket note).

Every stage is deterministic and SQL-expressible, so the whole pipeline is
checked against a composed DuckDB oracle (q_pipe_curate) — including the
recursive-CTE connected-components step.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from cassandra_ttl_remover_spark.operators import dedup, text
from cassandra_ttl_remover_spark.plans import fan_out, local_frame


def curate_corpus(spark: SparkSession, docs: DataFrame, *,
                  min_quality: float = 0.5,
                  langs: tuple[str, ...] = ("en",),
                  jaccard_threshold: float = 0.5,
                  max_df: int | None = 1000,
                  use_lsh: bool = False,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The curated corpus: documents that pass quality and language gates,
    survive exact dedup (min-id representative per content hash), and are
    their near-dup component's representative (the min id of their
    :func:`dedup.component_labels` component; one left-anti join drops
    every other labelled id).

    ``max_df`` caps the shingle document frequency in the fuzzy-dedup stage
    (stop-shingle removal — dedup.ngram_jaccard_pairs): without it one hot
    boilerplate shingle makes the candidate expansion quadratic in its df,
    which is exactly what a real corpus contains. The DuckDB oracle applies
    the identical cap, so the pipeline stays hash-checkable.

    ``use_lsh=True`` swaps the candidate generator for MinHash-LSH
    (dedup.minhash_lsh_pairs — banded, bucket-capped): the 100 TB path when
    even capped exact Jaccard is too expensive. Its candidate set is
    engine-specific (xxhash64), so it is recall-validated (q_n9), not
    hash-matched; leave False for the declared oracle query.

    Returns ``(id_col, pred_lang, quality)`` for every kept document."""
    keep1 = gated_exact_dedup(
        spark, docs, min_quality=min_quality, langs=langs,
        id_col=id_col, text_col=text_col,
    )
    if use_lsh:
        pairs = dedup.minhash_lsh_pairs(
            keep1, threshold=jaccard_threshold, text_col=text_col, id_col=id_col
        ).select("a", "b")
    else:
        pairs = dedup.ngram_jaccard_pairs(
            keep1, jaccard_threshold, text_col, id_col, max_df=max_df
        ).select("a", "b")
    drop = dedup.component_labels(pairs).filter(
        F.col("component") != F.col("_cc_node"))
    kept = keep1.join(drop, keep1[id_col] == drop["_cc_node"], "left_anti")
    return kept.select(id_col, "pred_lang", "quality")


def gated_exact_dedup(spark: SparkSession, docs: DataFrame, *,
                      min_quality: float = 0.5,
                      langs: tuple[str, ...] = ("en",),
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The deterministic pipeline prefix shared by the exact and LSH
    curation paths: quality gate -> language gate -> exact dedup. Returns
    ``(id_col, text_col, pred_lang, quality)`` for every surviving doc.
    """
    # Exact dedup as ONE window over the content digest (row_number, id-asc
    # tie-break == the min-id representative the oracle computes): a single
    # shuffle on the digest, versus the agg + join-back shape which costs a
    # second exchange (or leans on a broadcast that stops existing at 100 TB).
    #
    # Order (r13): the digest window runs FIRST, the quality/language gates
    # AFTER it. The two commute exactly — a digest group's rows carry
    # identical text, so the (text-only) gates pass for all of a group or
    # none of it and the min-id representative is unchanged. What the
    # reorder buys (guide §2.5/§1.2): the gate battery (the prefix's whole
    # CPU cost — HOF chains over every word) runs on the parallel,
    # already-deduped side of the exchange instead of the scan side, where
    # a single-file source serialized it onto one task (measured r13:
    # 543 ms single-task at sf0.1) — and a fan_out cannot fix that, because
    # Catalyst substitutes the gate predicate through the projections and
    # pushes the whole HOF chain below any repartition (the r12 line_dedup
    # finding, re-measured here: +1.0 s). Shuffle bytes stay bounded: the
    # rank-1 filter plans as a map-side WindowGroupLimit, so the exchange
    # carries at most one row per distinct text per map task.
    digest_w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    reps = (
        docs.select(id_col, text_col)
        .withColumn("_rn", F.row_number().over(digest_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # both gates are pure per-row projections, so they CHAIN (quality keeps
    # text; lang_id keeps text+quality) — zero joins, zero further shuffles
    scored = text.lang_id(
        spark,
        text.quality_score(reps, text_col, id_col, keep_cols=[text_col]),
        text_col,
        id_col,
        keep_cols=[text_col, "quality"],
    )
    # The gate applies as a Generate guard (explode of a 0/1-element
    # array), not a filter: a filter referencing the projected
    # quality/pred_lang columns gets SUBSTITUTED through the projections
    # and sinks below the window stage, so the whole battery evaluated
    # TWICE (once in the sunk filter, once in the surviving projection) —
    # ABAB r13: 1.203 -> 0.642 s for the prefix with the guard. A
    # Generate cannot sink, so the battery is computed once, above it.
    keep0 = (
        scored.select(id_col, text_col, "pred_lang", "quality")
        .withColumn("_g", F.explode(F.when(
            (F.col("quality") >= float(min_quality))
            & F.col("pred_lang").isin(*langs),
            F.array(F.lit(1))).otherwise(F.array())))
        .drop("_g")
    )
    # Stage boundary: materialize the exact-deduped survivors once.
    # Downstream consumes keep1 from several branches (the shingle
    # inverted-index join alone reads it twice); without materialization
    # the quality/lang joins re-execute per branch. At 100 TB this boundary
    # is a write to storage between pipeline stages; locally
    # localCheckpoint gives the same cut with lineage truncation.
    return keep0.localCheckpoint(eager=False)


def curate_lsh_invariants(spark: SparkSession, docs: DataFrame, *,
                          min_quality: float = 0.5,
                          langs: tuple[str, ...] = ("en",),
                          jaccard_threshold: float = 0.5,
                          max_df: int | None = 1000,
                          recall_gate: float = 0.8,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Hash-checkable certificate for the LSH curation path
    (``curate_corpus(use_lsh=True)``), whose candidate set is
    engine-hash-specific (xxhash64) and therefore cannot be value-matched
    row-for-row against another engine. Instead of going oracle-less, the
    pipeline is graded through ONE invariant row (model: q_n9's recall
    frame):

    - ``n_gate``      — survivors of the deterministic prefix (quality +
      language + exact dedup). DuckDB recomputes this EXACTLY from the
      same composed stage oracles, so a regression anywhere in the shared
      prefix flips the hash.
    - ``n_exact_pairs`` — capped exact-Jaccard near-dup pairs over those
      survivors (the ground truth the LSH generator approximates); also
      recomputed exactly by DuckDB.
    - ``recall_ok``   — the pipeline's ACTUAL candidate generator
      (minhash_lsh_pairs at the pipeline's own threshold) captures
      >= ``recall_gate`` of the exact pairs. Oracle emits TRUE; an LSH
      regression flips it false.
    - ``kept_lsh_ok`` — the end-to-end LSH pipeline output is non-empty:
      ``n_gate`` minus the non-representatives of the LSH components (the
      ids ``curate_corpus`` anti-joins away) is positive. Oracle emits
      TRUE.

    The full curated-corpus row set stays available via
    :func:`curate_corpus`; the exact path's output is value-matched by
    q_pipe_curate. Cost: one extra exact-pair pass over the (already
    gate-shrunk, exactly-deduped) survivors — the price of grading the
    approximate path against ground truth."""
    keep1 = gated_exact_dedup(
        spark, docs, min_quality=min_quality, langs=langs,
        id_col=id_col, text_col=text_col,
    )
    exact = dedup.ngram_jaccard_pairs(
        keep1, jaccard_threshold, text_col, id_col, max_df=max_df
    ).select("a", "b")
    cand = dedup.minhash_lsh_pairs(
        keep1, threshold=jaccard_threshold, text_col=text_col, id_col=id_col
    ).select("a", "b")
    drop = dedup.component_labels(cand).filter(
        F.col("component") != F.col("_cc_node"))
    n_gate = keep1.agg(F.count("*").cast("long").alias("n_gate"))
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    n_hit = exact.join(cand, ["a", "b"], "left_semi").agg(
        F.count("*").alias("_n_hit")
    )
    n_drop = drop.agg(F.count("*").alias("_n_drop"))
    return (
        n_gate.crossJoin(n_exact).crossJoin(n_hit).crossJoin(n_drop)
        .select(
            "n_gate",
            "n_exact_pairs",
            (
                (F.col("n_exact_pairs") == 0)
                | (F.col("_n_hit") >= recall_gate * F.col("n_exact_pairs"))
            ).alias("recall_ok"),
            (F.col("n_gate") - F.col("_n_drop") > 0).alias("kept_lsh_ok"),
        )
    )


def curate_lsh_invariants_oracle_sql(*, min_quality: float = 0.5,
                                     langs: tuple[str, ...] = ("en",),
                                     jaccard_threshold: float = 0.5,
                                     max_df: int | None = 1000,
                                     table: str = "documents",
                                     id_col: str = "doc_id") -> str:
    """DuckDB side of :func:`curate_lsh_invariants`: recompute the two
    deterministic counts exactly from the same composed stage oracles and
    emit TRUE for the two gates the Spark side must earn."""
    langs_sql = ", ".join(f"'{lang}'" for lang in langs)
    quality_sql = text.quality_oracle_sql(table, id_col)
    lang_sql = text.lang_id_oracle_sql(table, id_col)
    pairs_sql = dedup.ngram_jaccard_oracle_sql(
        threshold=jaccard_threshold, table="keep1", id_col=id_col, max_df=max_df
    )
    return f"""
WITH
qual AS (SELECT {id_col}, quality FROM ({quality_sql})),
lang AS (SELECT {id_col}, pred_lang FROM ({lang_sql})),
keep0 AS (
  SELECT d.{id_col}, d.text, lang.pred_lang, qual.quality
  FROM {table} d JOIN qual USING ({id_col}) JOIN lang USING ({id_col})
  WHERE qual.quality >= {min_quality} AND lang.pred_lang IN ({langs_sql})
),
ex AS (SELECT min({id_col}) AS keep_id FROM keep0 GROUP BY md5(text)),
keep1 AS (SELECT k.* FROM keep0 k JOIN ex ON k.{id_col} = ex.keep_id),
pairs AS (SELECT a, b FROM ({pairs_sql}))
SELECT (SELECT count(*) FROM keep1)::BIGINT AS n_gate,
       (SELECT count(*) FROM pairs)::BIGINT AS n_exact_pairs,
       TRUE AS recall_ok,
       TRUE AS kept_lsh_ok
"""


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  min_overlap: int = 1, hash_shingles: bool = True,
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any 3-word
    shingle with an evaluation/benchmark corpus (the standard n-gram-overlap
    decontamination rule for training-data pipelines). Returns
    ``(id_col, n_contaminated, is_clean)`` for EVERY training doc —
    ``n_contaminated`` counts the doc's distinct shingles that appear
    anywhere in the benchmark; ``is_clean`` is ``n_contaminated <
    min_overlap``. Filter on it (or raise ``min_overlap`` to tolerate
    incidental phrase collisions).

    Scale: the benchmark side is distinct-shingled and — benchmarks being
    tiny next to a training corpus — BROADCAST, so the exploded corpus
    shingle frame never shuffles for the membership probe; the only shuffle
    keys on ``id_col`` and carries just the matching shingle rows
    (contamination is rare by construction). ``hash_shingles`` turns every
    probe key into 8 bytes (distinct strings -> distinct xxhash64, counts
    unchanged), so the broadcast table stays compact even for a benchmark
    suite of millions of n-grams. Set ``broadcast_benchmark=False`` only if
    the benchmark side genuinely outgrows broadcast range — the join then
    degrades gracefully to a shuffle on the hashed shingle."""
    doc_sh = dedup.shingle_frame(docs, text_col, id_col)
    bench_sh = dedup.shingle_frame(benchmark, text_col, id_col).select("sh").distinct()
    if hash_shingles:
        doc_sh = doc_sh.withColumn("sh", F.xxhash64("sh"))
        bench_sh = bench_sh.select(F.xxhash64("sh").alias("sh"))
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    hits = (
        doc_sh.join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce(F.col("n"), F.lit(0)) < min_overlap).alias("is_clean"),
        )
    )


def _bloom_positions(hash_col: F.Column, num_bits: int, k: int) -> list[F.Column]:
    """Kirsch–Mitzenmacher double hashing: k bit positions from ONE 64-bit
    xxhash64 (h split into 32-bit halves; pos_i = (h1 + i*h2) mod num_bits).
    The same construction this repo uses for MinHash seeds — public,
    engine-free arithmetic."""
    h1 = hash_col.bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = F.shiftright(hash_col, 32)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits)) for i in range(k)]


def bloom_bits(items: DataFrame, col: str = "sh", *,
               num_bits: int = 1 << 23, k: int = 5) -> list[int]:
    """Build a Bloom bitset (as ``num_bits // 64`` longs) over a LONG column
    — computed distributed (explode k positions, bit_or-agg per word), with
    only the O(num_bits/64) word array collected to the driver: 128 KiB of
    longs at the 2^23-bit default, the same bounded-collect budget as the
    IVF centroid table (similarity.py)."""
    nwords = num_bits // 64
    h = F.xxhash64(F.col(col))
    pos = items.select(
        F.explode(F.array(*_bloom_positions(h, num_bits, k))).alias("p")
    )
    words = (
        pos.select(
            F.expr("p div 64").alias("w"),
            F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * nwords
    for r in words:
        arr[r.w] = r.bits
    return arr


def decontaminate_bloom(docs: DataFrame, benchmark: DataFrame, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        min_overlap: int = 1,
                        num_bits: int = 1 << 23, k: int = 5) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter — IDENTICAL output
    (bloom false positives are removed by the exact confirm join, so the
    same exact oracle applies), but built for the regime where the hashed
    benchmark shingle set strains a broadcast hash join: the benchmark
    collapses to a 1 MiB bit array (2^23 bits holds ~1M shingles at ~2% fp
    with k=5) carried to every task as a one-row broadcast, and only the
    bloom-POSITIVE corpus shingles — true contamination plus the fp
    trickle, a vanishing fraction of the exploded corpus — enter the exact
    membership join. The join side that used to be "every shingle of every
    document" becomes "almost nothing".

    Scale: corpus shingles stream through a codegen'd bit-probe filter
    (zero shuffle, fixed memory regardless of benchmark size); the exact
    confirm join shuffles only bloom survivors; the final left join
    restores the all-docs output contract.
    """
    spark = docs.sparkSession
    doc_sh = dedup.shingle_frame(docs, text_col, id_col).withColumn(
        "sh", F.xxhash64("sh")
    )
    bench_sh = (
        dedup.shingle_frame(benchmark, text_col, id_col)
        .select(F.xxhash64("sh").alias("sh"))
        .distinct()
    )
    bits = bloom_bits(bench_sh, "sh", num_bits=num_bits, k=k)
    bf = local_frame(spark, [(bits,)], "bf array<bigint>")
    preds = []
    for i in range(k):
        p = f"pmod(_h1 + {i} * _h2, {num_bits})"
        preds.append(
            f"((shiftright(element_at(bf, cast({p} div 64 as int) + 1),"
            f" cast({p} % 64 as int)) & 1) = 1)"
        )
    candidates = (
        doc_sh.join(F.broadcast(bf))
        .withColumn("_h1", F.xxhash64(F.col("sh")).bitwiseAND(F.lit(0xFFFFFFFF)))
        .withColumn("_h2", F.shiftright(F.xxhash64(F.col("sh")), 32))
        .filter(F.expr(" AND ".join(preds)))
        .select(id_col, "sh")
    )
    hits = (
        candidates.join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce(F.col("n"), F.lit(0)) < min_overlap).alias("is_clean"),
        )
    )


def decontaminate_oracle_sql(*, table: str = "documents",
                             benchmark_where: str, id_col: str = "doc_id",
                             min_overlap: int = 1) -> str:
    """DuckDB oracle for :func:`decontaminate` with the benchmark defined as
    ``SELECT * FROM table WHERE benchmark_where`` — string shingles on both
    sides (the Spark side's xxhash64 keying is a pure transport optimization,
    bijective over the distinct shingles, so counts match exactly)."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh_list = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    return f"""
WITH dsh AS (
  SELECT {id_col}, unnest({sh_list}) AS s FROM {table}
),
bsh AS (
  SELECT DISTINCT unnest({sh_list}) AS s FROM {table} WHERE {benchmark_where}
),
hits AS (
  SELECT {id_col}, count(*) AS n FROM dsh JOIN bsh USING (s) GROUP BY {id_col}
)
SELECT d.{id_col},
       coalesce(hits.n, 0) AS n_contaminated,
       coalesce(hits.n, 0) < {min_overlap} AS is_clean
FROM {table} d LEFT JOIN hits USING ({id_col})
ORDER BY d.{id_col}
"""


def quality_cutoff(docs: DataFrame, keep_frac: float = 0.5, *,
                   exact: bool = False, text_col: str = "text",
                   id_col: str = "doc_id", accuracy: int = 10000) -> DataFrame:
    """Keep the top ``keep_frac`` of documents by quality score (the
    quantile-based quality gate a curation pipeline applies when the budget
    is "best half of the corpus" rather than an absolute score).
    Returns ``(id_col, quality)`` of the kept docs.

    Default path (the 100 TB shape): two scan passes, no global sort —
    ``approx_percentile`` finds the quality value at the (1 - keep_frac)
    quantile (sketch aggregated map-side into one scalar), then a filter
    keeps docs at or above it; the 1-row threshold frame broadcasts into
    the comparison. Sketch error moves the CUT POINT by ~1/accuracy of the
    mass; it never misorders documents.

    ``exact=True`` is the deterministic surface: global
    top-``ceil(keep_frac*n)`` by (quality desc, id asc), ranked through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number`
    (range-sharded parallel ranking — (quality, id) is unique, so the
    result equals the single-window row_number exactly) — the exact
    path is distributed too, not just the sketch path."""
    scored = text.quality_score(docs, text_col, id_col).select(id_col, "quality")
    if exact:
        from cassandra_ttl_remover_spark.plans import two_level_row_number

        n = scored.count()
        k = max(1, math.ceil(keep_frac * n))
        ranked = two_level_row_number(
            scored.withColumn("_negq", -F.col("quality")),
            ["_negq", id_col], out="rn",
        )
        return (
            ranked.filter(F.col("rn") <= k)
            .select(id_col, "quality")
        )
    thr = scored.agg(
        F.percentile_approx("quality", 1.0 - keep_frac, accuracy).alias("thr")
    )
    return (
        scored.join(F.broadcast(thr), F.col("quality") >= F.col("thr"))
        .select(id_col, "quality")
    )


def quality_cutoff_oracle_sql(keep_frac: float = 0.5, *,
                              table: str = "documents",
                              id_col: str = "doc_id") -> str:
    """DuckDB oracle for the EXACT path of :func:`quality_cutoff` — same
    row_number tie-break, same ceil(frac*n) cut."""
    q = text.quality_oracle_sql(table, id_col)
    return f"""
WITH q AS (SELECT {id_col}, quality FROM ({q})),
r AS (
  SELECT {id_col}, quality,
         row_number() OVER (ORDER BY quality DESC, {id_col}) AS rn
  FROM q
)
SELECT {id_col}, quality FROM r
WHERE rn <= greatest(1, CAST(ceil({keep_frac} * (SELECT count(*) FROM q)) AS BIGINT))
ORDER BY {id_col}
"""


#: hash-bucket domain for deterministic sampling: pmod(murmur3(id), 2^31).
_MIX_BUCKETS = 1 << 31


def _mix_threshold(rate: float) -> int:
    """Sampling rate -> integer bucket threshold, clamped to [0, 2^31]."""
    return min(max(int(rate * _MIX_BUCKETS), 0), _MIX_BUCKETS)


def mix_decisions(docs: DataFrame, weights: dict[str, float], *,
                  default_rate: float = 0.0, domain_col: str = "source",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted data mixing: per-domain Bernoulli sampling by
    hash bucket — the way a training pipeline composes its corpus ("all of
    wiki, 30% of web, 5% of logs"). A doc is kept iff
    ``pmod(murmur3(id), 2^31) < rate[domain] * 2^31``: reproducible across
    runs and engines (no RNG state), stable under corpus growth (a doc's
    verdict never changes when other docs arrive), and exactly proportional
    in expectation. Returns ``(id_col, domain_col, is_sampled)`` for every
    doc.

    Scale: a pure per-row projection — no shuffle, no sort, fused into the
    scan by codegen; the weight table rides inline as a literal map (it is a
    config, not data). This is the correct 100 TB shape: sampling 100 TB
    costs one read pass."""
    pairs: list[F.Column] = []
    for d, r in sorted(weights.items()):
        # uniform long values: a 1.0 rate's threshold (2^31) exceeds int32,
        # and create_map insists on one value type across entries
        pairs += [F.lit(d), F.lit(_mix_threshold(r)).cast("long")]
    thr = F.coalesce(
        F.create_map(*pairs)[F.col(domain_col)] if pairs else F.lit(None),
        F.lit(_mix_threshold(default_rate)).cast("long"),
    )
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS))
    return docs.select(
        F.col(id_col), F.col(domain_col), (bucket < thr).alias("is_sampled")
    )


def temperature_mix_thresholds(docs: DataFrame, temperature: int = 2, *,
                               domain_col: str = "lang") -> DataFrame:
    """``(_dom, _n, _thr)`` — the per-domain murmur3-bucket keep
    thresholds derived from the corpus's own domain counts (the rate
    derivation of :func:`temperature_mix_report`, factored out so
    composed pipelines can apply the mix as a FILTER: keep a row iff
    ``pmod(murmur3(id), 2**31) < _thr``). <= |domains| rows, always
    broadcastable."""
    if temperature not in (1, 2, 4):
        raise ValueError("supported dyadic temperatures: 1, 2, 4")
    counts = docs.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count("*").cast("long").alias("_n"))
    nmin = F.broadcast(counts.agg(F.min("_n").alias("_nmin")))
    if temperature == 1:
        rate = "cast(1.0 as double)"
    elif temperature == 2:
        rate = "sqrt(cast(_nmin as double) / cast(_n as double))"
    else:  # T = 4 -> exponent 3/4 = 1/2 + 1/4
        rate = ("sqrt(cast(_nmin as double) / cast(_n as double))"
                " * sqrt(sqrt(cast(_nmin as double) / cast(_n as double)))")
    return counts.crossJoin(nmin).select(
        "_dom", "_n",
        F.expr(f"cast(floor(({rate}) * {_MIX_BUCKETS}) as long)")
        .alias("_thr"),
    )


def temperature_mix_report(docs: DataFrame, temperature: int = 2, *,
                           domain_col: str = "lang",
                           id_col: str = "doc_id") -> DataFrame:
    """Temperature-smoothed mixing with DERIVED rates (UniMax /
    multilingual-sampling practice, public method): sampling probability
    per domain follows ``p_d^(1/T)`` — T > 1 upweights small domains —
    which relative to each domain's natural share means keeping a
    fraction ``(n_min / n_d)^(1 - 1/T)`` (the smallest domain is kept
    in full). Supported temperatures are the DYADIC set {1, 2, 4}, so
    the exponent {0, 1/2, 3/4} is computed from sqrt alone — every
    float op (int64/int64 divide, sqrt, multiply, floor) is correctly
    rounded in both engines, keeping the derived integer thresholds and
    therefore the kept-set itself hash-exact (the mix_decisions
    convention with computed rather than configured rates).
    Keeps doc iff ``pmod(murmur3(id), 2^31) < floor(rate_d * 2^31)``.
    Returns the audit report ``(domain, n_total, threshold, n_sampled)``.

    Scale: one tiny groupBy(domain) count + a broadcast of the <=
    |domains| threshold table back onto the scan — the corpus is read
    once and never shuffled; the decision is a per-row projection."""
    thr = F.broadcast(
        temperature_mix_thresholds(docs, temperature, domain_col=domain_col)
    )
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS))
    return (
        docs.select(F.col(id_col), F.col(domain_col).alias("_dom"),
                    bucket.alias("_b"))
        .join(thr, "_dom")
        .groupBy("_dom", "_n", "_thr")
        .agg(F.count_if(F.col("_b") < F.col("_thr")).cast("long")
             .alias("n_sampled"))
        .select(
            F.col("_dom").alias("domain"),
            F.col("_n").alias("n_total"),
            F.col("_thr").alias("threshold"),
            "n_sampled",
        )
        .orderBy("domain")
    )


def temperature_mix_oracle_sql(temperature: int = 2, *,
                               domain_col: str = "lang",
                               table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """DuckDB recomputation of :func:`temperature_mix_report` — same
    dyadic-sqrt rate derivation, same murmur3 bucket."""
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    if temperature == 1:
        rate = "1.0"
    elif temperature == 2:
        rate = "sqrt(_nmin::DOUBLE / _n::DOUBLE)"
    else:
        rate = ("sqrt(_nmin::DOUBLE / _n::DOUBLE)"
                " * sqrt(sqrt(_nmin::DOUBLE / _n::DOUBLE))")
    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    return f"""
WITH counts AS (
  SELECT {domain_col} AS dom, count(*)::BIGINT AS _n
  FROM {table} GROUP BY {domain_col}
),
nmin AS (SELECT min(_n)::BIGINT AS _nmin FROM counts),
thr AS (
  SELECT dom, _n,
         CAST(floor(({rate}) * {_MIX_BUCKETS}) AS BIGINT) AS _thr
  FROM counts CROSS JOIN nmin
)
SELECT dom AS domain, _n AS n_total, _thr AS threshold,
       count(*) FILTER ({bucket} < _thr)::BIGINT AS n_sampled
FROM {table} d JOIN thr ON thr.dom = d.{domain_col}
GROUP BY dom, _n, _thr ORDER BY domain
"""


def mix_corpus(docs: DataFrame, weights: dict[str, float], *,
               default_rate: float = 0.0, domain_col: str = "source",
               id_col: str = "doc_id") -> DataFrame:
    """The mixed corpus itself: :func:`mix_decisions` applied as a filter,
    keeping all original columns. Same zero-shuffle scan-fused shape."""
    dec = mix_decisions(docs, weights, default_rate=default_rate,
                        domain_col=domain_col, id_col=id_col)
    return docs.join(
        dec.filter("is_sampled").select(id_col), id_col, "left_semi"
    )


def mix_report(docs: DataFrame, weights: dict[str, float], *,
               default_rate: float = 0.0, domain_col: str = "source",
               id_col: str = "doc_id") -> DataFrame:
    """Per-domain mixing audit: total docs, sampled docs, achieved rate
    (exact integer counts; one IEEE division so it oracle-matches). One
    map-side-combined aggregation keyed by the (low-cardinality) domain."""
    dec = mix_decisions(docs, weights, default_rate=default_rate,
                        domain_col=domain_col, id_col=id_col)
    return (
        dec.groupBy(domain_col)
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.col("is_sampled").cast("long")).alias("n_sampled"),
        )
        .withColumn(
            "rate_actual", F.col("n_sampled").cast("double") / F.col("n_total")
        )
    )


def mix_decisions_oracle_sql(weights: dict[str, float], *,
                             default_rate: float = 0.0,
                             table: str = "documents",
                             domain_col: str = "source",
                             id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`mix_decisions`, reproducing Spark's
    ``pmod(F.hash(id), 2^31)`` bit-exactly via
    lookups.murmur3_hash_oracle_expr (unsigned & 0x7fffffff == pmod of the
    signed hash — see that docstring)."""
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    cases = " ".join(
        f"WHEN '{d}' THEN {_mix_threshold(r)}"
        for d, r in sorted(weights.items())
    )
    thr = (
        f"CASE {domain_col} {cases} ELSE {_mix_threshold(default_rate)} END"
        if cases
        else str(_mix_threshold(default_rate))
    )
    return f"""
SELECT {id_col}, {domain_col}, {bucket} < ({thr}) AS is_sampled
FROM {table} ORDER BY {id_col}
"""


def sample_fixed(docs: DataFrame, k: int, *, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fixed-SIZE uniform sample: the k docs with the smallest
    ``pmod(murmur3(id), 2^31)`` (ties by id). Unlike rate-based sampling
    (:func:`mix_decisions`) the output size is exactly ``min(k, n)``; like
    it, the choice is reproducible and engine-portable (Murmur3 parity
    oracle). Membership shifts as the corpus grows (a fixed-size sample
    can't be growth-stable) — use mix_decisions when stability matters more
    than exact size.

    Scale: orderBy+limit plans as TakeOrderedAndProject — each task keeps a
    k-row heap, the driver merges per-task heaps; nothing global is sorted
    and only ``tasks * k`` rows move. For k in the millions prefer a
    rate-based pre-filter (mix_decisions at ~2k/n) followed by this exact
    top-k on the survivors."""
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS))
    return (
        docs.select(F.col(id_col), bucket.alias("sample_key"))
        .orderBy("sample_key", id_col)
        .limit(k)
    )


def sample_fixed_oracle_sql(k: int, *, table: str = "documents",
                            id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    return f"""
SELECT {id_col}, {bucket} AS sample_key
FROM {table} ORDER BY sample_key, {id_col} LIMIT {k}
"""


def sample_per_group(docs: DataFrame, k: int, *, group_col: str = "source",
                     id_col: str = "doc_id",
                     two_level: bool = True) -> DataFrame:
    """Per-group fixed-size sample: the ``k`` docs with the smallest
    ``pmod(murmur3(id), 2^31)`` within each group (ties by id) — "at most k
    documents per domain", the balanced-subset selection a curation recipe
    uses when domains are wildly uneven. Deterministic and engine-portable.

    Scale: the group key is typically LOW-cardinality (|sources| ~ tens)
    over a corpus-sized frame, so a plain ``Window.partitionBy(group)``
    would sort each group's full rows through ONE task. The default
    routes the rank through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number` with
    ``partition_cols=[group_col]`` — range-partitioned on (group, key,
    id) so one group spans many parallel shards (doremi_resample's
    construction). ``two_level=False`` keeps the single-window shape as
    the small-frame verification branch. Either way, for k ≪ group size
    a mix_decisions pre-filter at a few×k/|group| first keeps the ranked
    candidate set bounded."""
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS))
    base = docs.select(F.col(id_col), F.col(group_col),
                       bucket.alias("sample_key"))
    if two_level:
        from .. import plans

        ranked = plans.two_level_row_number(
            base, order_cols=["sample_key", id_col], out="rn",
            partition_cols=[group_col],
        )
    else:
        w = Window.partitionBy(group_col).orderBy("sample_key", id_col)
        ranked = base.withColumn("rn", F.row_number().over(w))
    return (
        ranked
        .filter(F.col("rn") <= k)
        .select(id_col, group_col, "sample_key")
    )


def sample_per_group_oracle_sql(k: int, *, table: str = "documents",
                                group_col: str = "source",
                                id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    return f"""
WITH b AS (
  SELECT {id_col}, {group_col}, {bucket} AS sample_key FROM {table}
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY {group_col}
                               ORDER BY sample_key, {id_col}) AS rn
  FROM b
)
SELECT {id_col}, {group_col}, sample_key FROM r WHERE rn <= {k}
ORDER BY {id_col}
"""


def pack_sequences(docs: DataFrame, budget: int, *, num_shards: int = 1,
                   tokens_col: str = "alnum_tokens",
                   text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-training step
    that concatenates documents in a deterministic order and cuts the
    stream every ``budget`` tokens. Each doc is assigned the bin its FIRST
    token lands in: ``bin = (cumulative tokens before this doc) div
    budget``. Returns ``(id_col, shard, n_tokens, bin)``.

    Scale: a running total needs an order, and a single global order is one
    task — so the corpus is sharded by ``pmod(murmur3(id), num_shards)``
    and packed independently per shard (PARTITION BY shard ORDER BY id
    window): shards pack in parallel, each emitting its own bin sequence.
    ``num_shards=1`` is the strictly-sequential oracle/small-corpus shape;
    at 100 TB set shards ~ cores so each holds a few GB. The shard hash is
    Murmur3, so even the sharded shape stays hash-checkable in DuckDB."""
    tokens = text.token_counts(docs, text_col, id_col).select(id_col, tokens_col)
    shard = F.pmod(F.hash(F.col(id_col)), F.lit(num_shards))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tokens.select(
            F.col(id_col),
            shard.cast("int").alias("shard"),
            F.col(tokens_col).alias("n_tokens"),
        )
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            id_col,
            "shard",
            "n_tokens",
            F.expr(f"(_cum - n_tokens) div {budget}").cast("long").alias("bin"),
        )
    )


def pack_sequences_oracle_sql(budget: int, *, num_shards: int = 1,
                              table: str = "documents",
                              id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    # pmod of the SIGNED 32-bit hash: reconstruct the signed value from the
    # unsigned oracle hash, then ((h % m) + m) % m
    h = murmur3_hash_oracle_expr(id_col)
    signed = f"(CASE WHEN ({h}) >= 2147483648 THEN ({h}) - 4294967296 ELSE ({h}) END)"
    shard = f"((({signed}) % {num_shards} + {num_shards}) % {num_shards})"
    ntok = "len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT"
    return f"""
WITH t AS (
  SELECT {id_col}, CAST({shard} AS INTEGER) AS shard, {ntok} AS n_tokens
  FROM {table}
),
c AS (
  SELECT {id_col}, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY {id_col}
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT {id_col}, shard, n_tokens,
       CAST((cum - n_tokens) // {budget} AS BIGINT) AS bin
FROM c ORDER BY {id_col}
"""


def curate_corpus_oracle_sql(*, min_quality: float = 0.5,
                             langs: tuple[str, ...] = ("en",),
                             jaccard_threshold: float = 0.5,
                             max_df: int | None = 1000,
                             table: str = "documents",
                             id_col: str = "doc_id") -> str:
    """Composed DuckDB oracle for curate_corpus: the per-stage oracle
    fragments chained through CTEs, components via a recursive CTE. Applies
    the same shingle df-cap as the Spark side."""
    langs_sql = ", ".join(f"'{lang}'" for lang in langs)
    quality_sql = text.quality_oracle_sql(table, id_col)
    lang_sql = text.lang_id_oracle_sql(table, id_col)
    pairs_sql = dedup.ngram_jaccard_oracle_sql(
        threshold=jaccard_threshold, table="keep1", id_col=id_col, max_df=max_df
    )
    return f"""
WITH RECURSIVE
qual AS (SELECT {id_col}, quality FROM ({quality_sql})),
lang AS (SELECT {id_col}, pred_lang FROM ({lang_sql})),
keep0 AS (
  SELECT d.{id_col}, d.text, lang.pred_lang, qual.quality
  FROM {table} d JOIN qual USING ({id_col}) JOIN lang USING ({id_col})
  WHERE qual.quality >= {min_quality} AND lang.pred_lang IN ({langs_sql})
),
ex AS (SELECT min({id_col}) AS keep_id FROM keep0 GROUP BY md5(text)),
keep1 AS (SELECT k.* FROM keep0 k JOIN ex ON k.{id_col} = ex.keep_id),
pairs AS (SELECT a, b FROM ({pairs_sql})),
edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach(node, r) AS (
  SELECT {id_col}, {id_col} FROM keep1
  UNION
  SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT k.{id_col}, k.pred_lang, k.quality
FROM keep1 k JOIN comp ON comp.node = k.{id_col}
WHERE comp.component = k.{id_col}
ORDER BY k.{id_col}
"""


# ---------------------------------------------------------------------------
# Deterministic train/validation/test split
# ---------------------------------------------------------------------------

def hash_split(docs: DataFrame, train_pct: int = 80, valid_pct: int = 10,
               id_col: str = "doc_id") -> DataFrame:
    """Assign every row a stable ``train``/``valid``/``test`` split label by
    key hash — the reproducible split a training pipeline needs: adding or
    removing OTHER rows never moves a given key between splits (unlike
    randomSplit, which is seed- and partitioning-dependent).

    Bucketing: ``pmod(murmur3(id), 2^31) % 100`` — the 2^31 reduction keeps
    the percent bucket oracle-expressible bit-exactly (see
    lookups.murmur3_hash_oracle_expr); ``< train_pct`` -> train,
    ``< train_pct + valid_pct`` -> valid, else test.

    Scale: a pure projection — zero shuffle, fused into the scan; the label
    is computable independently on any executor for any row.
    """
    pct = F.pmod(F.hash(F.col(id_col)), F.lit(_MIX_BUCKETS)) % 100
    return docs.withColumn(
        "split",
        F.when(pct < train_pct, F.lit("train"))
        .when(pct < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def hash_split_counts(docs: DataFrame, train_pct: int = 80,
                      valid_pct: int = 10,
                      id_col: str = "doc_id") -> DataFrame:
    """Per-split row counts — the split-audit summary (one partial agg)."""
    return (
        hash_split(docs, train_pct, valid_pct, id_col)
        .groupBy("split")
        .agg(F.count("*").cast("long").alias("n"))
    )


def hash_split_oracle_sql(train_pct: int = 80, valid_pct: int = 10,
                          table: str = "documents",
                          id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    pct = f"(({murmur3_hash_oracle_expr(id_col)} & 2147483647) % 100)"
    return f"""
SELECT *, CASE WHEN {pct} < {train_pct} THEN 'train'
               WHEN {pct} < {train_pct + valid_pct} THEN 'valid'
               ELSE 'test' END AS split
FROM {table} ORDER BY {id_col}
"""


def cluster_safe_split(docs: DataFrame, pairs: DataFrame,
                       train_pct: int = 80, valid_pct: int = 10,
                       id_col: str = "doc_id") -> DataFrame:
    """Leakage-proof train/valid/test split: a near-duplicate of a training
    document sitting in the test set is evaluation contamination, and a
    plain per-document :func:`hash_split` produces exactly that whenever a
    near-dup cluster straddles the split boundary. Here the split key is
    the document's near-dup COMPONENT (min reachable id over the pair
    graph), so every cluster lands whole in one split by construction.
    Returns ``(id_col, component, split)``.

    Scale: components as in dedup.connected_components (driver union-find
    under the edge bound, HashMin above); the split label is then the same
    zero-shuffle hash projection as hash_split, keyed on the component."""
    cc = dedup.connected_components(pairs, docs.select(id_col), id_col)
    labeled = hash_split(cc, train_pct, valid_pct, id_col="component")
    return labeled.select(id_col, "component", "split")


def cluster_safe_split_oracle_sql(pairs_sql: str, train_pct: int = 80,
                                  valid_pct: int = 10,
                                  table: str = "documents",
                                  id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    cc = dedup.connected_components_oracle_sql(pairs_sql, table, id_col)
    pct = f"(({murmur3_hash_oracle_expr('component')} & 2147483647) % 100)"
    return f"""
WITH cc AS ({cc})
SELECT {id_col}, component,
       CASE WHEN {pct} < {train_pct} THEN 'train'
            WHEN {pct} < {train_pct + valid_pct} THEN 'valid'
            ELSE 'test' END AS split
FROM cc ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Deterministic global corpus shuffle (reproducible training order)
# ---------------------------------------------------------------------------

def shuffle_deterministic(docs: DataFrame, n_shards: int = 16, seed: int = 7,
                          *, id_col: str = "doc_id") -> DataFrame:
    """Seeded global shuffle for reproducible training order: every doc gets
    a shard and a dense position within it, both functions of ``(seed, id)``
    alone — independent of input partitioning, file order, or cluster size,
    so two runs (or two clusters) produce byte-identical epoch order.
    Returns ``(id_col, shard, pos)``.

    The shuffle key is the engine-portable 60-bit md5 token
    (lookups.PORTABLE_TOKEN_EXPR) of ``'<seed>:<id>'`` — changing the seed
    re-deals the whole corpus. ``shard = token % n_shards`` (token is
    non-negative, so plain ``%`` agrees across engines);
    ``pos = row_number`` over the shard ordered by (token, id).

    Scale: ONE exchange hash-partitioned by shard; each shard sorts locally
    (the window's sort), so the global sort a naive ``orderBy(rand())``
    would need never happens and no task sees more than corpus/n_shards
    rows. n_shards is the training-job reader parallelism — size it so a
    shard fits a reader task, and the epoch iterates shards in (shard, pos)
    order."""
    from cassandra_ttl_remover_spark.operators.lookups import PORTABLE_TOKEN_EXPR

    keyed = f"concat('{seed}:', cast({id_col} as string))"
    tok = F.expr(PORTABLE_TOKEN_EXPR.format(col=keyed))
    w = Window.partitionBy("shard").orderBy("_tok", id_col)
    return (
        docs.select(F.col(id_col), tok.alias("_tok"))
        .withColumn("shard", (F.col("_tok") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def shuffle_deterministic_oracle_sql(n_shards: int = 16, seed: int = 7, *,
                                     table: str = "documents",
                                     id_col: str = "doc_id") -> str:
    from cassandra_ttl_remover_spark.operators.lookups import (
        portable_token_oracle_expr,
    )

    tok = portable_token_oracle_expr(f"'{seed}:' || CAST({id_col} AS VARCHAR)")
    return f"""
WITH t AS (
  SELECT {id_col}, {tok} AS tok FROM {table}
)
SELECT {id_col},
       (tok % {n_shards})::INTEGER AS shard,
       row_number() OVER (PARTITION BY tok % {n_shards}
                          ORDER BY tok, {id_col})::BIGINT AS pos
FROM t ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) — multi-objective selection
# ---------------------------------------------------------------------------

def pareto_frontier(df: DataFrame, x: str, y: str, id_col: str,
                    prefilter: bool = True) -> DataFrame:
    """Rows not dominated on two integer objectives (both maximized):
    ``r`` is dominated iff some other row is >= on both and > on at least
    one. The multi-objective selection primitive for curation tradeoffs
    (keep documents no other beats on BOTH quality and length) — also the
    classic skyline operator.

    Frontier test as windows, no self-join: with integer objectives,
    a row survives iff (a) its ``y`` is the max among equal-``x`` rows and
    (b) its ``y`` strictly exceeds max{y' : x' > x}, computed by ONE
    value-range window (``ORDER BY x RANGE BETWEEN 1 FOLLOWING AND
    UNBOUNDED FOLLOWING``). Duplicate (x, y) points tie the frontier and
    are all kept, per the standard strict-dominance definition.

    Scale: the global pass is a SinglePartition window — one task sorts
    whatever reaches it, so the input to it is everything that matters.
    With ``prefilter=True`` the same two-window test first runs keyed on
    ``spark_partition_id``: this costs one hash exchange on the synthetic
    key (Catalyst cannot know rows already sit with their pid), but the
    local windows then run 32-way parallel and a local frontier preserves
    the global one (dominance within a partition is dominance globally),
    so the single-task global window sees only the per-partition
    frontiers — the textbook distributed-skyline split. (A mapInPandas
    local pass would make the prefilter exchange-free at the cost of an
    Arrow boundary; the JVM window form is kept for codegen and
    exactness uniformity.) Result is partitioning-independent either
    way, property-tested."""
    cand = df.select(id_col, x, y)
    if prefilter:
        pid = F.spark_partition_id()
        lw = Window.partitionBy("_pid").orderBy(F.col(x).asc()) \
            .rangeBetween(1, Window.unboundedFollowing)
        le = Window.partitionBy("_pid", x)
        cand = (
            cand.withColumn("_pid", pid)
            .withColumn("_m", F.max(y).over(lw))
            .withColumn("_e", F.max(y).over(le))
            .filter(
                (F.col(y) == F.col("_e"))
                & ((F.col("_m").isNull()) | (F.col(y) > F.col("_m")))
            )
            .select(id_col, x, y)
        )
    gw = Window.orderBy(F.col(x).asc()) \
        .rangeBetween(1, Window.unboundedFollowing)
    ge = Window.partitionBy(x)
    return (
        cand.withColumn("_m", F.max(y).over(gw))
        .withColumn("_e", F.max(y).over(ge))
        .filter(
            (F.col(y) == F.col("_e"))
            & ((F.col("_m").isNull()) | (F.col(y) > F.col("_m")))
        )
        .select(id_col, x, y)
        .orderBy(id_col)
    )


def pareto_frontier_oracle_sql(inner_sql: str, x: str, y: str,
                               id_col: str) -> str:
    """Independent recomputation by the definition itself: a NOT EXISTS
    anti-join against any dominating row — quadratic, but a different
    algorithm entirely, so a window-frame bug on the Spark side cannot
    hide."""
    return f"""
WITH base AS ({inner_sql})
SELECT b.{id_col}, b.{x}, b.{y}
FROM base b
WHERE NOT EXISTS (
  SELECT 1 FROM base o
  WHERE o.{x} >= b.{x} AND o.{y} >= b.{y}
    AND (o.{x} > b.{x} OR o.{y} > b.{y})
)
ORDER BY b.{id_col}
"""


# ---------------------------------------------------------------------------
# Systematic PPS sampling (probability proportional to size, deterministic)
# ---------------------------------------------------------------------------

def pps_systematic_sample(docs: DataFrame, n: int,
                          weight_expr: str = "greatest(n_chars, 1)",
                          id_col: str = "doc_id",
                          two_level: bool = False) -> DataFrame:
    """Deterministic probability-proportional-to-size sampling: lay the
    documents' integer weights end to end (ordered by ``id_col``), place
    ``n`` selection points at ``stride/2 + i*stride`` where
    ``stride = total div n``, and pick each document once per point its
    weight interval covers — the survey-statistics systematic PPS
    design, with the fixed half-stride offset instead of a random one so
    the sample is a pure function of the corpus (the reproducibility
    contract every deterministic op here keeps). Long documents with
    weight > stride are legitimately picked multiple times (``n_picks``
    reports it); expected picks are exactly proportional to weight.

    Point-counting uses only non-negative integer division, sidestepping
    the Spark-div-truncates vs DuckDB-//-floors divergence on negatives.

    Returns picked docs: ``(id_col, weight, cum_weight, n_picks)``.

    Scale: the default is one global ordered prefix sum (single
    partition); ``two_level=True`` runs the REAL scale path via
    :func:`plans.two_level_cumsum` (range-sharded parallel prefix
    seeded by a driver scan over shard totals), property-tested equal
    to the window form."""
    w = docs.select(
        F.col(id_col), F.expr(weight_expr).cast("long").alias("weight")
    )
    if two_level:
        from cassandra_ttl_remover_spark.plans import two_level_cumsum

        cum = two_level_cumsum(w, [id_col], "weight", out="cum_weight")
    else:
        run = Window.orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = w.withColumn("cum_weight", F.sum("weight").over(run))
    total_row = cum.agg(F.max("cum_weight").alias("_t")).collect()[0]
    total = int(total_row._t or 0)
    stride = total // n
    if stride == 0:
        raise ValueError(
            f"total weight {total} too small for {n} PPS points"
        )
    off = stride // 2
    # points <= c: none below the offset, else (c - off) div stride + 1,
    # capped at the n points that exist (total % n != 0 would otherwise
    # imply a phantom point n)
    n_le = (f"least(if({{c}} < {off}L, 0L,"
            f" ({{c}} - {off}L) div {stride}L + 1L), {n}L)")
    picked = cum.withColumn(
        "n_picks",
        F.expr(
            f"{n_le.format(c='cum_weight')}"
            f" - {n_le.format(c='(cum_weight - weight)')}"
        ),
    ).filter(F.col("n_picks") > 0)
    # cap at exactly n points: the final doc's interval may extend past
    # point n-1 when total % n != 0 (no point lands there, no-op), but
    # guard the count anyway via the derivation being point-based
    return picked.select(id_col, "weight", "cum_weight", "n_picks") \
        .orderBy(id_col)


def pps_systematic_oracle_sql(n: int, weight_expr: str = "greatest(n_chars, 1)",
                              table: str = "documents",
                              id_col: str = "doc_id") -> str:
    """Same lattice in DuckDB; integer division only ever sees
    non-negative operands, so // and Spark's div agree."""
    return f"""
WITH w AS (
  SELECT {id_col}, CAST({weight_expr} AS BIGINT) AS weight FROM {table}
),
c AS (
  -- CAST: DuckDB's windowed sum(BIGINT) yields HUGEINT, which the
  -- duckdb->pandas bridge converts to float64 — the driver then hashes
  -- 1.0 against Spark's int64 1 and misses even though values match
  -- (CORRECTNESS_r05's only red row). Pin it back to BIGINT.
  SELECT {id_col}, weight,
         CAST(sum(weight) OVER (ORDER BY {id_col}
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
           AS cum_weight
  FROM w
),
p AS (SELECT (sum(weight) // {n})::BIGINT AS stride FROM w),
s AS (
  SELECT c.*, p.stride, (p.stride // 2)::BIGINT AS off FROM c CROSS JOIN p
)
SELECT {id_col}, weight, cum_weight, n_picks
FROM (
  SELECT {id_col}, weight, cum_weight,
         (least(CASE WHEN cum_weight < off THEN 0
                     ELSE (cum_weight - off) // stride + 1 END, {n})
          - least(CASE WHEN cum_weight - weight < off THEN 0
                       ELSE (cum_weight - weight - off) // stride + 1 END,
                  {n}))::BIGINT AS n_picks
  FROM s
)
WHERE n_picks > 0
ORDER BY {id_col}
"""


def rendezvous_shard_report(docs: DataFrame, n_shards: int = 8,
                            id_col: str = "doc_id") -> DataFrame:
    """Rendezvous (highest-random-weight) sharding report — the
    consistent-assignment scheme for routing corpus keys to N workers /
    caches / index shards such that growing to N+1 moves only ~1/(N+1)
    of the keys (vs ~all keys under mod-N). Per key, the winning shard is
    ``argmax over s of md5(key || ':' || s)`` (lexicographic max — any
    fixed total order works). Returns one row per shard:
    ``(shard, n_keys, n_moved)`` where ``n_moved`` counts keys whose
    winner CHANGES when one shard is added — the measured resharding
    cost, which mod-N hashing cannot bound.

    Scale shape: assignment is a per-row HOF argmax over ``n_shards``
    md5s (zero shuffle, codegen); the report is one groupBy(shard) —
    shard-count-sized output. The HRW invariant (the only keys that move
    go TO the new shard) is what the oracle hash-checks."""
    n = int(n_shards)

    def argmax(upto: int) -> str:
        return (
            f"element_at(array_sort(transform(sequence(0, {upto} - 1), "
            f"s -> struct(md5(concat(cast({id_col} as string), ':', "
            f"cast(s as string))) as h, s as s))), {upto}).s"
        )

    return (
        fan_out(docs.select(id_col), id_col)
        .select(
            F.col(id_col),
            F.expr(argmax(n)).cast("int").alias("shard"),
            F.expr(argmax(n + 1)).cast("int").alias("shard_next"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(
                (F.col("shard") != F.col("shard_next")).cast("long")
            ).alias("n_moved"),
        )
        .orderBy("shard")
    )


def rendezvous_shard_report_oracle_sql(n_shards: int = 8,
                                       table: str = "documents",
                                       id_col: str = "doc_id") -> str:
    n = int(n_shards)

    def winner(upto: int) -> str:
        return (f"(SELECT s FROM UNNEST(generate_series(0, {upto} - 1))"
                f" AS v(s) ORDER BY md5({id_col}::VARCHAR || ':' ||"
                f" s::VARCHAR) DESC LIMIT 1)")

    return f"""
WITH assign AS (
  SELECT {id_col},
         {winner(n)} AS shard,
         {winner(n + 1)} AS shard_next
  FROM {table}
)
SELECT shard::INT AS shard, count(*)::BIGINT AS n_keys,
       sum((shard <> shard_next)::BIGINT)::BIGINT AS n_moved
FROM assign GROUP BY shard ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Token-budget allocation (weighted waterfilling across sources)
# ---------------------------------------------------------------------------

def budget_allocation(docs: DataFrame, budget: int,
                      weights: dict[str, int] | None = None,
                      source_col: str = "source",
                      token_expr: str = "greatest(n_chars, 1)") -> DataFrame:
    """Allocate a total token ``budget`` across sources by WEIGHTED
    WATERFILLING — the data-mixing step every pretraining recipe runs:
    each source i with capacity ``cap_i`` (its available tokens) and
    integer weight ``w_i`` receives ``a_i = min(cap_i, floor(w_i * t))``
    where the water level ``t`` is the largest value the budget affords.
    Small sources saturate (take everything they have); the surplus
    flows to the rest in weight proportion — the closed-form solution of
    "sample source i at rate proportional to w_i, but never upsample".

    Exactness: the classic sorted-prefix closed form. Sources sort by
    ``cap/w`` (one IEEE division, identical in both engines; ties by
    source name); whether a source saturates is decided by the INTEGER
    cross-multiplication ``cap_k * SW_k <= (B - PC_k) * w_k`` (PC_k =
    total capacity of sources before k, SW_k = total weight from k on)
    — saturated sources form a prefix of the sort order, so one pass of
    prefix sums decides everything. Unsaturated sources get
    ``(w_i * B_rem) div W_unc`` — integer division of exact integers.
    Products run in DECIMAL(38,0) (cap ~ 1e15 tokens at 100 TB times
    weights times budget exceeds int64); every OUTPUT column is plain
    BIGINT. Returns one row per source:
    ``(source, cap, w, saturated, allocation)`` with
    ``sum(allocation) <= budget`` (floor remainders are reported, not
    silently redistributed).

    Scale shape: ONE map-side-combined groupBy(source) reduces the
    corpus to |sources| rows; the waterfilling itself is two windows
    over that tiny frame. Apply the result with
    :func:`apply_budget_sample` (broadcast join + zero-shuffle
    deterministic per-doc threshold)."""
    weights = weights or {}
    w_expr = ("CASE " + " ".join(
        f"WHEN source = '{s}' THEN {int(w)}L"
        for s, w in sorted(weights.items())
    ) + " ELSE 1L END") if weights else "1L"
    caps = (
        docs.groupBy(source_col)
        .agg(F.expr(f"sum(cast({token_expr} as bigint))").alias("cap"))
        .select(F.col(source_col).alias("source"), "cap")
        .withColumn("w", F.expr(w_expr))
    )
    dec = "cast({v} as decimal(38,0))"
    order = Window.orderBy(
        F.expr("cast(cap as double) / cast(w as double)"), F.col("source")
    )
    run_before = order.rowsBetween(Window.unboundedPreceding, -1)
    run_from = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    staged = (
        caps
        .withColumn("_pc", F.coalesce(F.sum("cap").over(run_before),
                                      F.lit(0).cast("long")))
        .withColumn("_sw", F.sum("w").over(run_from))
        .withColumn(
            "saturated",
            F.expr(
                f"{dec.format(v='cap')} * {dec.format(v='_sw')} <= "
                f"({dec.format(v=str(budget) + 'L')} - {dec.format(v='_pc')})"
                f" * {dec.format(v='w')}"
            ),
        )
    )
    totals = F.broadcast(
        staged.agg(
            F.sum(F.when(F.col("saturated"), F.col("cap"))
                  .otherwise(F.lit(0))).cast("long").alias("_sat_cap"),
            F.sum(F.when(~F.col("saturated"), F.col("w"))
                  .otherwise(F.lit(0))).cast("long").alias("_unc_w"),
        )
    )
    alloc = (
        f"case when saturated then cap else cast("
        f"({dec.format(v='w')} * ({dec.format(v=str(budget) + 'L')}"
        f" - {dec.format(v='_sat_cap')})) div {dec.format(v='_unc_w')}"
        f" as bigint) end"
    )
    return (
        staged.crossJoin(totals)
        .select("source", "cap", "w", "saturated",
                F.expr(alloc).alias("allocation"))
        .orderBy("source")
    )


def budget_allocation_oracle_sql(budget: int,
                                 weights: dict[str, int] | None = None,
                                 source_col: str = "source",
                                 token_expr: str = "greatest(n_chars, 1)",
                                 table: str = "documents") -> str:
    """DuckDB mirror: identical sort key (one IEEE division), identical
    HUGEINT cross-multiplication predicate, identical integer division;
    BIGINT at every output boundary."""
    weights = weights or {}
    w_expr = ("CASE " + " ".join(
        f"WHEN source = '{s}' THEN {int(w)}"
        for s, w in sorted(weights.items())
    ) + " ELSE 1 END") if weights else "1"
    return f"""
WITH caps AS (
  SELECT {source_col} AS source,
         sum(CAST({token_expr} AS BIGINT))::BIGINT AS cap,
         ({w_expr})::BIGINT AS w
  FROM {table} GROUP BY {source_col}
), staged AS (
  SELECT source, cap, w,
         coalesce(sum(cap) OVER (ORDER BY cap::DOUBLE / w::DOUBLE, source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0)::BIGINT AS pc,
         CAST(sum(w) OVER (ORDER BY cap::DOUBLE / w::DOUBLE, source
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              AS BIGINT) AS sw
  FROM caps
), flagged AS (
  SELECT source, cap, w,
         cap::HUGEINT * sw <= ({budget}::HUGEINT - pc) * w AS saturated
  FROM staged
), totals AS (
  SELECT coalesce(sum(CASE WHEN saturated THEN cap END), 0)::BIGINT
           AS sat_cap,
         coalesce(sum(CASE WHEN NOT saturated THEN w END), 0)::BIGINT
           AS unc_w
  FROM flagged
)
SELECT source, cap, w, saturated,
       CASE WHEN saturated THEN cap
            ELSE ((w::HUGEINT * ({budget}::HUGEINT - sat_cap))
                  // unc_w)::BIGINT END AS allocation
FROM flagged, totals
ORDER BY source
"""


def apply_budget_sample(docs: DataFrame, alloc: DataFrame,
                        source_col: str = "source",
                        token_expr: str = "greatest(n_chars, 1)",
                        id_col: str = "doc_id") -> DataFrame:
    """Apply a :func:`budget_allocation` result to the corpus: keep each
    document with probability ``allocation / cap`` of its source, decided
    by a deterministic per-doc hash threshold (integer cross-multiply —
    ``pmod(murmur3(id), 2^31) * cap < allocation * 2^31`` in
    DECIMAL(38,0); no RNG, no floats), so reruns keep exactly the same
    documents, and the decision is ENGINE-PORTABLE: the same
    bit-exact Murmur3 oracle that checks the token-range scan
    (lookups.murmur3_hash_oracle_expr) recomputes it in DuckDB, so the
    applied sample is hash-checkable end to end (q_x30). Saturated
    sources keep everything. Expected kept tokens per source =
    allocation.

    Documents whose source has NO allocation row (a corpus drifted since
    the allocation was computed) are kept OUT (``is_sampled = false``,
    never NULL) — an unbudgeted source has no budget.

    Scale: the allocation frame is |sources| rows — broadcast; the
    decision is a zero-shuffle projection."""
    dec = "cast({v} as decimal(38,0))"
    # the hash-threshold term is guarded on a non-NULL id: Spark's
    # hash(NULL) returns the seed (a REAL decision) while the oracle's
    # murmur3 expression propagates NULL — guarding both sides to the
    # same "no id, no threshold keep" semantics (a saturated source
    # still keeps the row; saturation needs no hash)
    keep = (
        f"saturated or ({id_col} is not null and "
        f"{dec.format(v=f'pmod(hash({id_col}), 2147483648L)')}"
        f" * {dec.format(v='cap')}"
        f" < {dec.format(v='allocation')}"
        f" * cast(2147483648 as decimal(38,0)))"
    )
    a = alloc.select(
        F.col("source").alias("_alloc_source"), "cap", "saturated",
        "allocation",
    )
    return (
        docs.join(F.broadcast(a),
                  docs[source_col] == a["_alloc_source"], "left")
        .withColumn("is_sampled",
                    F.coalesce(F.expr(keep), F.lit(False)))
        .drop("_alloc_source")
    )


def apply_budget_sample_oracle_sql(budget: int,
                                   weights: dict[str, int] | None = None,
                                   source_col: str = "source",
                                   token_expr: str = "greatest(n_chars, 1)",
                                   table: str = "documents",
                                   id_col: str = "doc_id") -> str:
    """DuckDB mirror of budget_allocation + apply_budget_sample composed:
    the allocation CTE is :func:`budget_allocation_oracle_sql` verbatim,
    and the keep decision reproduces Spark's ``pmod(hash(id), 2^31)``
    bit-exactly via lookups.murmur3_hash_oracle_expr (unsigned
    ``& 0x7fffffff`` == pmod of the signed hash). Emits the compact
    ``(id, source, is_sampled)`` projection."""
    from cassandra_ttl_remover_spark.operators.lookups import (
        murmur3_hash_oracle_expr,
    )

    alloc_sql = budget_allocation_oracle_sql(
        budget, weights, source_col=source_col, token_expr=token_expr,
        table=table)
    bucket = f"({murmur3_hash_oracle_expr(id_col)} & 2147483647)"
    return f"""
WITH alloc AS ({alloc_sql})
SELECT d.{id_col}, d.{source_col} AS source,
       coalesce(a.saturated OR
                {bucket}::HUGEINT * a.cap
                  < a.allocation::HUGEINT * 2147483648,
                FALSE) AS is_sampled
FROM {table} d LEFT JOIN alloc a ON d.{source_col} = a.source
ORDER BY d.{id_col}
"""


# ---------------------------------------------------------------------------
# DSIR — hashed n-gram importance scoring for data selection
# ---------------------------------------------------------------------------

#: 12-bit bucket of a feature string from its md5's first three nibbles —
#: the same engine-portable md5-nibble trick SimHash uses (dedup.py:622),
#: so Spark and DuckDB agree bit-for-bit. `instr`/`strpos` are both
#: 1-based; the arithmetic yields a value in [0, 4096) before the modulo.
_DSIR_NIBBLES = "0123456789abcdef"


def _dsir_bucket_spark(s: str, buckets: int) -> str:
    # value-identical to the three-nibble instr form (the md5 hex prefix
    # read as a base-16 number), but ONE md5 call instead of three: this
    # expression runs inside transform() lambdas, which Spark evaluates
    # interpreted (no whole-stage codegen, no common-subexpression
    # elimination), so each instr(md5(..)) repeated the digest per nibble.
    # Equivalence is pinned by test_dsir_bucket_conv_equivalence.
    return f"pmod(cast(conv(substr(md5({s}), 1, 3), 16, 10) as int), {buckets})"


def _dsir_bucket_duck(s: str, buckets: int) -> str:
    n = [f"(strpos('{_DSIR_NIBBLES}', substr(md5({s}), {i}, 1)) - 1)"
         for i in (1, 2, 3)]
    return f"(({n[0]} * 256 + {n[1]} * 16 + {n[2]}) % {buckets})"


def _dsir_features(docs: DataFrame, text_col: str, id_col: str,
                   buckets: int, keep_empty: bool = False) -> DataFrame:
    """``(id, bucket)`` — one row per unigram+bigram occurrence, hashed
    into ``buckets``. A pure projection + explode: the 8-byte bucket ints
    shuffle, the text never does. The word array is HOISTED into its own
    projection first — inlining the split into the bigram lambda would
    re-split the whole text per element (O(words²) splits per doc; the
    same hoisting rule text.py's simhash pass documents). Fanned out
    before the projection and exploded in the OUTER form (filter on the
    generated column) so neither a parallelism floor of 1 nor an
    inferred size()>0 filter pushed below the exchange serializes the
    md5 chain onto the scan task — the _lm_bigrams discipline.
    ``keep_empty=True`` keeps the outer-explode placeholder row (bucket
    NULL) for featureless docs — the _lm_bigrams scorer contract."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    bigrams = (
        "CASE WHEN size(_ws) >= 2 THEN "
        "transform(sequence(1, size(_ws) - 1), "
        "i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1))) "
        "ELSE array() END"
    )
    exploded = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)), id_col)
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.explode_outer(
                F.expr(f"transform(concat(_ws, {bigrams}), "
                       f"s -> {_dsir_bucket_spark('s', buckets)})")
            ).alias("bucket"),
        )
    )
    if keep_empty:
        return exploded
    return exploded.filter(F.col("bucket").isNotNull())


def dsir_importance(raw: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    buckets: int = 4096) -> DataFrame:
    """DSIR-style importance scores for selecting raw data that looks like
    a target domain (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling" — public method): featurize every document
    into hashed unigram+bigram buckets, estimate add-1-smoothed bucket
    distributions over the TARGET and the RAW corpus, and score each raw
    document by how much more target-like than raw-like its features are.

    Deviation from the paper, by design: the paper scores
    ``log w = sum_f c_f (log t_f - log r_f)``; transcendental logs are not
    bit-stable across engines, so this emits the RATIONAL surrogate
    ``w = (sum_f c_f t'_f / sum_f c_f r'_f) * (R/T)`` (arithmetic rather
    than geometric mean of the per-feature likelihood ratios;
    ``t'_f = t_f + 1`` add-1 smoothed, ``T = |target features| + B``) in
    exact integer arithmetic — hash-checkable, and ranking-equivalent for
    the common single-feature-regime tail it is used to cut. Output:
    ``(id, n_features, target_mass, raw_mass, importance_permille)``,
    total over the raw frame (featureless docs score 0).

    Scale: two map-side-combined histogram aggs of <= ``buckets`` rows
    each, materialized ONCE (localCheckpoint — their subtrees must not
    recompute for the totals), one explode carrying (id, bucket int) —
    text never shuffles — and ONE hash shuffle on the doc id. The bucket
    dictionary broadcasts; the only driver collect is the 1-row totals
    scalar off the <= ``buckets``-row dictionary (bounded-collect
    convention). At 100 TB the explode dominates and is embarrassingly
    parallel; skew is impossible because the reduce key is the doc id."""
    # the raw featurize keeps the placeholder row (bucket NULL) for
    # featureless docs so the scoring doc-id reduce emits one row per
    # raw doc itself — no stitch-back join (the r12 lm_score stance);
    # the histogram branch filters the placeholders back out so the
    # bucket dictionary is unchanged
    rf = _dsir_features(raw, text_col, id_col, buckets, keep_empty=True)
    tf = _dsir_features(target, text_col, id_col, buckets)
    t_hist = tf.groupBy("bucket").agg(F.count("*").alias("t_n"))
    r_hist = rf.filter(F.col("bucket").isNotNull()) \
        .groupBy("bucket").agg(F.count("*").alias("r_n"))
    dim = (
        t_hist.join(r_hist, "bucket", "full")
        .select(
            "bucket",
            (F.coalesce("t_n", F.lit(0)) + 1).alias("t_sm"),
            (F.coalesce("r_n", F.lit(0)) + 1).alias("r_sm"),
        )
        .localCheckpoint()
    )
    # add-1 over ALL `buckets` cells: total = sum over occupied buckets
    # plus one for each empty bucket
    [tot] = dim.agg(
        F.sum("t_sm").alias("t_occ"), F.sum("r_sm").alias("r_occ"),
        F.count("*").alias("n_occ"),
    ).collect()
    t_total = int(tot.t_occ or 0) + buckets - int(tot.n_occ)
    r_total = int(tot.r_occ or 0) + buckets - int(tot.n_occ)
    return (
        rf.join(F.broadcast(dim), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("bucket").cast("long").alias("n_features"),
            F.coalesce(F.sum("t_sm"), F.lit(0)).cast("long")
            .alias("target_mass"),
            F.coalesce(F.sum("r_sm"), F.lit(0)).cast("long")
            .alias("raw_mass"),
        )
        .select(
            id_col,
            "n_features",
            "target_mass",
            "raw_mass",
            F.expr(
                "CASE WHEN raw_mass > 0 THEN CAST("
                f"(CAST(target_mass AS DECIMAL(38,0)) * {r_total} * 1000) "
                f"div (CAST(raw_mass AS DECIMAL(38,0)) * {t_total}) "
                "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            ).alias("importance_permille"),
        )
    )


def dsir_importance_oracle_sql(target_where: str,
                               raw_where: str = "TRUE",
                               table: str = "documents",
                               id_col: str = "doc_id",
                               buckets: int = 4096) -> str:
    """DuckDB recomputation of :func:`dsir_importance` over ``table``
    split into raw/target by the two WHERE predicates."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    feats = (
        f"({ws} || (CASE WHEN len({ws}) >= 2 THEN "
        f"list_transform(range(1, len({ws})), "
        f"i -> {ws}[i] || ' ' || {ws}[i+1]) ELSE [] END))"
    )
    bucket = _dsir_bucket_duck("s", buckets)
    return f"""
WITH rf AS (
  SELECT {id_col}, {bucket} AS bucket
  FROM (SELECT {id_col}, unnest({feats}) AS s
        FROM {table} WHERE {raw_where})
),
tf AS (
  SELECT {bucket} AS bucket
  FROM (SELECT unnest({feats}) AS s FROM {table} WHERE {target_where})
),
th AS (SELECT bucket, count(*) AS t_n FROM tf GROUP BY bucket),
rh AS (SELECT bucket, count(*) AS r_n FROM rf GROUP BY bucket),
totals AS (
  SELECT (SELECT count(*) FROM tf) + {buckets} AS t_total,
         (SELECT count(*) FROM rf) + {buckets} AS r_total
),
dim AS (
  SELECT coalesce(th.bucket, rh.bucket) AS bucket,
         coalesce(t_n, 0) + 1 AS t_sm, coalesce(r_n, 0) + 1 AS r_sm
  FROM th FULL JOIN rh ON th.bucket = rh.bucket
),
per AS (
  SELECT {id_col}, count(*)::BIGINT AS n_features,
         sum(t_sm)::BIGINT AS target_mass,
         sum(r_sm)::BIGINT AS raw_mass
  FROM rf JOIN dim USING (bucket) GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(n_features, 0)::BIGINT AS n_features,
       coalesce(target_mass, 0)::BIGINT AS target_mass,
       coalesce(raw_mass, 0)::BIGINT AS raw_mass,
       (CASE WHEN coalesce(raw_mass, 0) > 0 THEN
          ((target_mass::HUGEINT * r_total * 1000) //
           (raw_mass::HUGEINT * t_total))
        ELSE 0 END)::BIGINT AS importance_permille
FROM (SELECT {id_col} FROM {table} WHERE {raw_where}) d
LEFT JOIN per USING ({id_col})
CROSS JOIN totals
ORDER BY d.{id_col}
"""

# ---------------------------------------------------------------------------
# CCNet-style n-gram LM fluency scoring (Wenzek et al. 2020)
# ---------------------------------------------------------------------------

def _lm_bigrams(docs: DataFrame, text_col: str, id_col: str,
                buckets: int, keep_empty: bool = False) -> DataFrame:
    """``(id, u, v)`` — one row per consecutive-token bigram, each token
    hashed into ``buckets`` independently (``u`` the context bucket,
    ``v`` the next-token bucket). The word array is hoisted, then hashed
    ONCE per token (``_bs``) before pairing — inlining the bucket hash
    into the pair lambda would md5 every token twice. Pure projection +
    explode: only 8-byte bucket ints ever reach an exchange, the text
    never does (the _dsir_features stance).

    Parallelism floor (guide §2.5 input skew / plans.fan_out): the
    tokenize+md5 projection is the CPU cost of every LM operator, so the
    scan is fanned out across the cluster BEFORE it — a single-file
    local source otherwise serializes the whole featurize onto one task
    (measured r12: 1.0-1.1 s single-task at sf0.1). Keyless round-robin
    because one caller (lm_domain_matrix) keys by a ~|domains|-value
    column — hashing on that would recreate the skew. Filter-pushdown
    discipline: the short-doc guard lives INSIDE the projection (CASE ->
    empty array) and the explode is the OUTER form, because an explicit
    ``filter(size(_bs) >= 2)`` / non-outer explode yields an inferred
    size()>0 filter that Catalyst pushes below the fan-out exchange,
    re-evaluating the whole md5 chain single-task on the scan side (the
    line_dedup r12 finding); a filter on the GENERATED column cannot
    sink past the Generate.

    ``keep_empty=True`` keeps the outer-explode's placeholder row (u/v
    NULL) for documents with < 2 tokens, so a downstream groupBy(id)
    emits one row per INPUT doc directly — the scorers consume this
    form to skip the corpus-sized stitch-back join they otherwise need
    to re-attach unscorable docs (r12: removed one Exchange+Sort+SMJ
    per scoring entry). Model training keeps the default (bigram rows
    only)."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    exploded = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.expr(f"transform(_ws, w -> {_dsir_bucket_spark('w', buckets)})"
                   ).alias("_bs"),
        )
        .select(
            F.col(id_col),
            F.expr(
                "CASE WHEN size(_bs) >= 2 THEN "
                "transform(sequence(1, size(_bs) - 1), "
                "i -> struct(element_at(_bs, i) AS u, "
                "element_at(_bs, i + 1) AS v)) "
                "ELSE array() END").alias("_bga"),
        )
        .select(F.col(id_col), F.explode_outer("_bga").alias("_bg"))
    )
    if not keep_empty:
        exploded = exploded.filter(F.col("_bg").isNotNull())
    return exploded.select(F.col(id_col), F.col("_bg.u").alias("u"),
                           F.col("_bg.v").alias("v"))


def lm_perplexity(docs: DataFrame, train_where: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """CCNet-style n-gram language-model fluency scoring (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data" — public method): train an add-1-smoothed hashed-bigram
    LM on the ``train_where`` subset (the paper's clean reference
    corpus), then score EVERY document by how surprising its bigrams are
    under that model — the classic generative complement to the
    discriminative logreg filter (classify.logreg_train).

    Deviation from the paper, by design (the dsir_importance stance):
    the paper scores KenLM log-perplexity; transcendental logs are not
    bit-stable across engines, so the score is the RATIONAL surrogate

        ppl_permille = (1/n) * sum_i ((c(u_i) + B) * scale)
                                     div (c(u_i, v_i) + 1)

    — the arithmetic mean of the per-bigram scaled INVERSE conditional
    probabilities ``1/p(v|u)`` under the add-1 model
    ``p(v|u) = (c(u,v)+1)/(c(u)+B)``. The arithmetic mean of inverse
    probabilities upper-bounds their geometric mean (= true perplexity)
    and ranks the high-surprise tail the same way; every term is one
    truncating integer division (Spark ``div`` == DuckDB ``//``), so
    the output hash-matches the oracle. Output one row per input doc:
    ``(id, n_bigrams, sum_invp, ppl_permille)`` — NULL ppl for docs
    with < 2 tokens (unscorable; CCNet drops them).

    Scale: training is ONE bigram featurize (explode of int pairs) into
    a map-side-combined (u, v) histogram, checkpointed once; the context
    marginal c(u) derives from that histogram (<= ``buckets`` rows,
    broadcast — never a second corpus pass). Scoring joins the corpus
    bigram frame against the pair histogram on two int keys (AQE picks
    broadcast when the occupied-pair count is small; worst case it is a
    shuffle of 8-byte ints bounded by buckets^2 dictionary rows) and
    reduces by doc id — text never shuffles. int64 discipline: terms
    are <= (train_bigrams + B) * scale; the per-doc sum stays under
    2^63 to ~10^15 term-mass — past that, drop ``scale`` or promote the
    sum to decimal(38,0) like logreg_train documents. Hot-bigram skew
    ("of the" in every document makes one (u, v) join key carry ~1% of
    a 100 TB corpus): the pair-histogram join is a plain shuffle join
    when the model outgrows broadcast, which is exactly the shape AQE's
    skew-join split re-plans at runtime — rehearsed in
    tests/test_scale_rehearsal.py."""
    model = lm_model(docs.filter(train_where), text_col, id_col, buckets)
    return lm_score(docs, model, text_col=text_col, id_col=id_col,
                    buckets=buckets, scale=scale)


def lm_model(train_docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", buckets: int = 4096) -> DataFrame:
    """THE trained LM artifact: the ``(u, v, c_uv)`` bigram pair
    histogram over the clean reference corpus, checkpointed once (it
    feeds both the scoring join and the derived context marginal).
    Train batch-side, score anywhere — :func:`lm_score` for batch,
    streaming.stream_lm_gate per micro-batch."""
    return (
        _lm_bigrams(train_docs, text_col, id_col, buckets)
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("c_uv"))
        .localCheckpoint(eager=False)
    )


def lm_score(docs: DataFrame, model: DataFrame, *,
             text_col: str = "text", id_col: str = "doc_id",
             buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Score ``docs`` against a trained :func:`lm_model` — the serving
    half of :func:`lm_perplexity` (same output contract: one row per
    input doc, NULL ppl for the unscorable). Per-doc independent, so
    scoring a micro-batch equals scoring the same rows in one batch.

    Plan shape (r12): the featurize keeps the outer-explode placeholder
    row for < 2-token docs (``keep_empty``), so the doc-id reduce emits
    one row per input doc by itself — no stitch-back join of the corpus
    id frame (removed one Exchange+Sort+SortMergeJoin per scoring
    entry; the null-keyed rows never match the left joins and score
    NULL)."""
    bg_all = _lm_bigrams(docs, text_col, id_col, buckets, keep_empty=True)
    ctx_hist = model.groupBy("u").agg(
        F.sum("c_uv").cast("long").alias("c_u"))
    return (
        bg_all
        .join(model, ["u", "v"], "left")
        .join(F.broadcast(ctx_hist), ["u"], "left")
        .select(
            F.col(id_col),
            F.col("u"),
            F.expr(
                "CASE WHEN u IS NULL THEN CAST(NULL AS BIGINT) ELSE"
                f" ((coalesce(c_u, 0L) + {buckets}) * {scale})"
                " div (coalesce(c_uv, 0L) + 1) END"
            ).alias("_invp"),
        )
        .groupBy(id_col)
        .agg(
            F.count("u").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("_invp"), F.lit(0)).cast("long")
            .alias("sum_invp"),
        )
        .withColumn(
            "ppl_permille",
            F.expr("CASE WHEN n_bigrams > 0 THEN sum_invp div n_bigrams "
                   "ELSE CAST(NULL AS BIGINT) END"),
        )
    )


def _lm_duck_ctes(train_where: str, table: str, id_col: str,
                  buckets: int, scale: int) -> list[str]:
    """Shared CTE chain for the LM oracles, ending in
    ``scores({id}, n_bigrams, sum_invp, ppl_permille)`` total over
    ``table`` — :func:`lm_perplexity_oracle_sql` and the bucket/report
    oracles compose it (the _lr_duck_ctes convention)."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    return [f"""b_all AS (
  SELECT {id_col}, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {id_col}, {ws} AS ws FROM {table})
  WHERE len(ws) >= 2
)""", f"""bg_all AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_all
)""", f"""b_tr AS (
  SELECT list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {ws} AS ws FROM {table} WHERE {train_where})
  WHERE len(ws) >= 2
)""", f"""bg_tr AS (
  SELECT unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_tr
)""", "ph AS (SELECT u, v, count(*)::BIGINT AS c_uv FROM bg_tr "
      "GROUP BY u, v)",
      "ch AS (SELECT u, sum(c_uv)::BIGINT AS c_u FROM ph GROUP BY u)",
      f"""per AS (
  SELECT {id_col}, count(*)::BIGINT AS n_bigrams,
         sum(((coalesce(c_u, 0) + {buckets}) * {scale})
             // (coalesce(c_uv, 0) + 1))::BIGINT AS sum_invp
  FROM bg_all LEFT JOIN ph USING (u, v) LEFT JOIN ch USING (u)
  GROUP BY {id_col}
)""", f"""scores AS (
  SELECT d.{id_col}, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
         coalesce(sum_invp, 0)::BIGINT AS sum_invp,
         (CASE WHEN coalesce(n_bigrams, 0) > 0
               THEN sum_invp // n_bigrams END)::BIGINT AS ppl_permille
  FROM {table} d LEFT JOIN per USING ({id_col})
)"""]


def lm_perplexity_oracle_sql(train_where: str, table: str = "documents",
                             id_col: str = "doc_id",
                             buckets: int = 4096,
                             scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`lm_perplexity` over ``table``."""
    ctes = _lm_duck_ctes(train_where, table, id_col, buckets, scale)
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT * FROM scores ORDER BY {id_col}")


def lm_perplexity_buckets(docs: DataFrame, train_where: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          buckets: int = 4096,
                          scale: int = 1000) -> DataFrame:
    """CCNet's actual selection rule: split the corpus into
    ``head`` / ``middle`` / ``tail`` by LM-perplexity TERTILES of the
    scored population (Wenzek et al. 2020 §4.3 keep head+middle, the
    tail is the noisy third). Cuts are EXACT order statistics — t_k is
    the smallest ppl whose <=-cumulative count reaches ceil(k*n/3) —
    computed from the ppl histogram via the two-level prefix scan (no
    global sort, no single-partition window; the
    classify.margin_threshold_frame construction, ascending form).
    Unscorable docs (< 2 tokens) land in ``unscored``. Output one row
    per input doc: ``(id, ppl_permille, ppl_bucket)``.

    Scale: scoring is :func:`lm_perplexity`; the cut derivation adds
    one <= distinct-ppl-cardinality histogram agg + the shard-parallel
    scan; the cuts broadcast back as a 1-row frame."""
    scores = lm_perplexity(docs, train_where, text_col, id_col,
                           buckets, scale).localCheckpoint(eager=False)
    cuts = F.broadcast(lm_tertile_cuts(scores))
    return (
        scores.crossJoin(cuts)
        .select(
            F.col(id_col), "ppl_permille",
            F.expr(
                "CASE WHEN ppl_permille IS NULL THEN 'unscored' "
                "WHEN ppl_permille <= t1 THEN 'head' "
                "WHEN ppl_permille <= t2 THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("ppl_bucket"),
        )
    )


def lm_tertile_cuts(scores: DataFrame,
                    col: str = "ppl_permille") -> DataFrame:
    """1-row ``(t1, t2)`` frame — the exact perplexity tertile cuts of a
    :func:`lm_perplexity`/:func:`lm_score` result (t_k = the smallest
    ppl whose <=-cumulative scored count reaches ceil(k*n/3)), computed
    from the ppl histogram via the two-level prefix scan. CCNet keeps
    ``ppl <= t2`` (head+middle); streaming gates collect the scalar
    once at calibration (bounded 1-row collect, the margin_threshold
    convention). ``col`` selects the score column, so the trigram
    scorer's ``sbo_permille`` cuts through the same machinery."""
    from cassandra_ttl_remover_spark.plans import two_level_cumsum

    hist = (
        scores.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count("*").cast("long").alias("_cnt"))
    )
    cum = two_level_cumsum(hist, [col], "_cnt", out="_c")
    tot = F.broadcast(cum.agg(F.max("_c").alias("_n")))
    return (
        cum.crossJoin(tot).agg(
            F.min(F.when(
                F.expr("_c >= greatest(1L, cast(ceil(_n / 3.0d) as bigint))"),
                F.col(col))).alias("t1"),
            F.min(F.when(
                F.expr("_c >= greatest(1L, "
                       "cast(ceil(2.0d * _n / 3.0d) as bigint))"),
                F.col(col))).alias("t2"),
        )
    )


def lm_perplexity_buckets_oracle_sql(train_where: str,
                                     table: str = "documents",
                                     id_col: str = "doc_id",
                                     buckets: int = 4096,
                                     scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`lm_perplexity_buckets` — the shared
    LM CTEs + window-cumulative tertile cuts (the window is fine oracle-
    side; the Spark side proves the scan-parallel form)."""
    ctes = _lm_duck_ctes(train_where, table, id_col, buckets, scale)
    ctes.append("""h AS (
  SELECT ppl_permille AS p, count(*)::BIGINT AS cnt
  FROM scores WHERE ppl_permille IS NOT NULL GROUP BY ppl_permille
)""")
    ctes.append("""cum AS (
  SELECT p, sum(cnt) OVER (ORDER BY p)::BIGINT AS c FROM h
)""")
    ctes.append("""cuts AS (
  SELECT min(CASE WHEN c >= greatest(1, CAST(ceil(_n / 3.0) AS BIGINT))
                  THEN p END) AS t1,
         min(CASE WHEN c >= greatest(1, CAST(ceil(2.0 * _n / 3.0)
                                             AS BIGINT)) THEN p END) AS t2
  FROM cum CROSS JOIN (SELECT max(c) AS _n FROM cum)
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT {id_col}, ppl_permille,
       (CASE WHEN ppl_permille IS NULL THEN 'unscored'
             WHEN ppl_permille <= t1 THEN 'head'
             WHEN ppl_permille <= t2 THEN 'middle'
             ELSE 'tail' END) AS ppl_bucket
FROM scores CROSS JOIN cuts
ORDER BY {id_col}""")


def lm_gate_oracle_sql(train_where: str, table: str = "documents",
                       id_col: str = "doc_id", buckets: int = 4096,
                       scale: int = 1000) -> str:
    """Oracle for the CCNet keep rule (batch or streamed —
    streaming.stream_lm_gate's survivor set is identical by per-doc
    independence): every scored doc with ``ppl <= t2``, the exact
    middle/tail tertile cut."""
    ctes = _lm_duck_ctes(train_where, table, id_col, buckets, scale)
    ctes.append("""h AS (
  SELECT ppl_permille AS p, count(*)::BIGINT AS cnt
  FROM scores WHERE ppl_permille IS NOT NULL GROUP BY ppl_permille
)""")
    ctes.append("""cum AS (
  SELECT p, sum(cnt) OVER (ORDER BY p)::BIGINT AS c FROM h
)""")
    ctes.append("""cuts AS (
  SELECT min(CASE WHEN c >= greatest(1, CAST(ceil(2.0 * _n / 3.0)
                                             AS BIGINT)) THEN p END) AS t2
  FROM cum CROSS JOIN (SELECT max(c) AS _n FROM cum)
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT {id_col}, n_bigrams, sum_invp, ppl_permille
FROM scores CROSS JOIN cuts
WHERE ppl_permille <= t2 ORDER BY {id_col}""")


def lm_domain_report(docs: DataFrame, train_where: str, *,
                     domain_col: str = "lang", text_col: str = "text",
                     id_col: str = "doc_id", buckets: int = 4096,
                     scale: int = 1000) -> DataFrame:
    """Per-domain LM evaluation report (the Paloma practice: perplexity
    disaggregated over sources/domains, so a model fluent in aggregate
    cannot hide a domain it models badly): one row per domain with the
    doc count, scored count, exact total ppl mass and its integer mean.
    One corpus-side join of the (id, ppl) score frame back to the
    (id, domain) projection, then a <= |domains| map-side agg."""
    scores = lm_perplexity(docs, train_where, text_col, id_col,
                           buckets, scale)
    return (
        scores.join(docs.select(id_col, domain_col), id_col)
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("ppl_permille").cast("long").alias("n_scored"),
            F.coalesce(F.sum("ppl_permille"), F.lit(0)).cast("long")
            .alias("sum_ppl"),
        )
        .withColumn(
            "mean_ppl_permille",
            F.expr("CASE WHEN n_scored > 0 THEN sum_ppl div n_scored "
                   "ELSE CAST(NULL AS BIGINT) END"),
        )
        .orderBy("domain")
    )


def lm_domain_report_oracle_sql(train_where: str, *,
                                domain_col: str = "lang",
                                table: str = "documents",
                                id_col: str = "doc_id",
                                buckets: int = 4096,
                                scale: int = 1000) -> str:
    ctes = _lm_duck_ctes(train_where, table, id_col, buckets, scale)
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT d.{domain_col} AS domain, count(*)::BIGINT AS n_docs,
       count(ppl_permille)::BIGINT AS n_scored,
       coalesce(sum(ppl_permille), 0)::BIGINT AS sum_ppl,
       (CASE WHEN count(ppl_permille) > 0
             THEN sum(ppl_permille) // count(ppl_permille)
        END)::BIGINT AS mean_ppl_permille
FROM scores s JOIN {table} d USING ({id_col})
GROUP BY d.{domain_col} ORDER BY domain""")


# ---------------------------------------------------------------------------
# trigram LM with stupid backoff (Brants et al. 2007)
# ---------------------------------------------------------------------------

def _lm_trigrams(docs: DataFrame, text_col: str, id_col: str,
                 buckets: int, keep_empty: bool = False) -> DataFrame:
    """``(id, u, v, w)`` — one row per consecutive-token trigram, each
    token hashed once (the _lm_bigrams construction, order-3 form —
    including its fan-out floor, the CASE-guard + outer-explode
    filter-pushdown discipline, and the ``keep_empty`` placeholder-row
    contract for scorers; see that docstring)."""
    ws = f"filter(split({text_col}, ' '), w -> w <> '')"
    exploded = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(
            F.col(id_col),
            F.expr(f"transform(_ws, w -> {_dsir_bucket_spark('w', buckets)})"
                   ).alias("_bs"),
        )
        .select(
            F.col(id_col),
            F.expr(
                "CASE WHEN size(_bs) >= 3 THEN "
                "transform(sequence(1, size(_bs) - 2), "
                "i -> struct(element_at(_bs, i) AS u, "
                "element_at(_bs, i + 1) AS v, "
                "element_at(_bs, i + 2) AS w)) "
                "ELSE array() END").alias("_tga"),
        )
        .select(F.col(id_col), F.explode_outer("_tga").alias("_tg"))
    )
    if not keep_empty:
        exploded = exploded.filter(F.col("_tg").isNotNull())
    return exploded.select(F.col(id_col), F.col("_tg.u").alias("u"),
                           F.col("_tg.v").alias("v"),
                           F.col("_tg.w").alias("w"))


def sbo_model(train_docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", buckets: int = 4096) -> DataFrame:
    """The trigram LM artifact: the ``(u, v, w, c3)`` trigram histogram
    over the reference corpus, checkpointed once. EVERY backoff marginal
    (bigram context A(u,v), backoff gram B2(v,w), backoff context C1(v),
    unigram D(w), total T) DERIVES from this one frame — one training
    pass over the corpus, the lm_model stance at order 3."""
    return (
        _lm_trigrams(train_docs, text_col, id_col, buckets)
        .groupBy("u", "v", "w")
        .agg(F.count("*").cast("long").alias("c3"))
        .localCheckpoint(eager=False)
    )


def sbo_perplexity(docs: DataFrame, train_where: str,
                   text_col: str = "text", id_col: str = "doc_id",
                   buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Trigram LM fluency with STUPID BACKOFF (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the web-scale smoothing
    that replaced Kneser-Ney at MapReduce scale, built for exactly this
    distributed setting): score each document's trigrams at the deepest
    level with evidence, backing off with factor alpha = 0.4 per level:

        S(w | u,v) = N3(u,v,w) / A(u,v)              if N3 > 0
                   = 0.4 * B2(v,w) / C1(v)           elif B2 > 0
                   = 0.16 * (D(w) + 1) / (T + B)     otherwise (add-1)

    where every marginal derives from the trigram histogram (A = sum
    over w, B2 = sum over u, C1 = sum over u,w, D = sum over u,v, T =
    total — a DECLARED surrogate: true bigram counts differ at document
    edges, but the derived marginals keep the model one training pass
    and the hierarchy consistent). alpha = 2/5 is RATIONAL, so the
    per-trigram scaled inverse score is exact integer arithmetic at
    every level (the lm_perplexity stance):

        term = scale * A div N3                          (level 3)
             = (5 * scale * C1) div (2 * B2)             (level 2)
             = (25 * scale * (T + B)) div (4 * (D + 1))  (level 1)

    Output one row per input doc: ``(id, n_trigrams, n_hits3, n_hits2,
    sum_invp, sbo_permille)`` — the per-level hit counts make the
    backoff structure itself checkable; NULL sbo for docs with < 3
    tokens.

    Scale: one training featurize into the checkpointed trigram
    histogram; A and B2 are <= occupied-pair tables joined on two int
    keys (AQE broadcast-or-skew-split, the lm_score stance), C1/D/T
    broadcast (<= buckets rows / 1 row); the corpus side is the
    (id, u, v, w) int frame reduced by doc id — text never shuffles."""
    model = sbo_model(docs.filter(train_where), text_col, id_col, buckets)
    return sbo_score(docs, model, text_col=text_col, id_col=id_col,
                     buckets=buckets, scale=scale)


def sbo_score(docs: DataFrame, model: DataFrame, *,
              text_col: str = "text", id_col: str = "doc_id",
              buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Serving half of :func:`sbo_perplexity` (per-doc independent —
    streamable through the stream_lm_gate pattern).

    Plan shape (r12, the lm_score stance): the featurize keeps the
    placeholder row for < 3-token docs so the doc-id reduce emits one
    row per input doc itself — no stitch-back join. The small backoff
    marginals DERIVE from the larger ones (C1 = Σ_w A, D = Σ_v B2,
    T = Σ C1) instead of each re-aggregating the full trigram
    histogram: three of the five marginal aggregations now run over
    the (much smaller) marginal frames — at scale the histogram is
    corpus-bounded while A/B2 are type-bounded."""
    tg = _lm_trigrams(docs, text_col, id_col, buckets, keep_empty=True)
    a_ctx = model.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("a_uv")).localCheckpoint(eager=False)
    b2 = model.groupBy("v", "w").agg(
        F.sum("c3").cast("long").alias("b_vw")).localCheckpoint(eager=False)
    c1 = a_ctx.groupBy("v").agg(F.sum("a_uv").cast("long").alias("c_v"))
    d1 = b2.groupBy("w").agg(F.sum("b_vw").cast("long").alias("d_w"))
    tot = c1.agg(F.sum("c_v").cast("long").alias("t_all"))
    return (
        tg
        .join(model, ["u", "v", "w"], "left")
        .join(a_ctx, ["u", "v"], "left")
        .join(b2, ["v", "w"], "left")
        .join(F.broadcast(c1), ["v"], "left")
        .join(F.broadcast(d1), ["w"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.col("u"),
            F.expr("if(coalesce(c3, 0L) > 0, 1L, 0L)").alias("_h3"),
            F.expr("if(coalesce(c3, 0L) = 0 and coalesce(b_vw, 0L) > 0,"
                   " 1L, 0L)").alias("_h2"),
            F.expr(
                f"CASE WHEN u IS NULL THEN CAST(NULL AS BIGINT)"
                f" WHEN coalesce(c3, 0L) > 0"
                f" THEN ({scale} * a_uv) div c3"
                f" WHEN coalesce(b_vw, 0L) > 0"
                f" THEN (5 * {scale} * c_v) div (2 * b_vw)"
                f" ELSE (25 * {scale} * (t_all + {buckets}))"
                f" div (4 * (coalesce(d_w, 0L) + 1)) END"
            ).alias("_invp"),
        )
        .groupBy(id_col)
        .agg(
            F.count("u").cast("long").alias("n_trigrams"),
            F.sum("_h3").cast("long").alias("n_hits3"),
            F.sum("_h2").cast("long").alias("n_hits2"),
            F.coalesce(F.sum("_invp"), F.lit(0)).cast("long")
            .alias("sum_invp"),
        )
        .withColumn(
            "sbo_permille",
            F.expr("CASE WHEN n_trigrams > 0 THEN sum_invp div n_trigrams "
                   "ELSE CAST(NULL AS BIGINT) END"),
        )
    )


def sbo_gate_oracle_sql(train_where: str, table: str = "documents",
                        id_col: str = "doc_id", buckets: int = 4096,
                        scale: int = 1000) -> str:
    """Oracle for the trigram-LM keep rule (batch or streamed through
    stream_lm_gate(order=3)): every scored doc with ``sbo <= t2``, the
    exact middle/tail tertile cut — the lm_gate oracle at order 3, with
    the full sbo oracle embedded as the scores subquery."""
    inner = sbo_perplexity_oracle_sql(train_where, table, id_col,
                                      buckets, scale)
    return f"""
WITH s AS (SELECT * FROM ({inner})),
h AS (
  SELECT sbo_permille AS p, count(*)::BIGINT AS cnt
  FROM s WHERE sbo_permille IS NOT NULL GROUP BY sbo_permille
),
cum AS (SELECT p, sum(cnt) OVER (ORDER BY p)::BIGINT AS c FROM h),
cuts AS (
  SELECT min(CASE WHEN c >= greatest(1, CAST(ceil(2.0 * _n / 3.0)
                                             AS BIGINT)) THEN p END) AS t2
  FROM cum CROSS JOIN (SELECT max(c) AS _n FROM cum)
)
SELECT {id_col}, n_trigrams, n_hits3, n_hits2, sum_invp, sbo_permille
FROM s CROSS JOIN cuts
WHERE sbo_permille <= t2 ORDER BY {id_col}"""


def sbo_perplexity_oracle_sql(train_where: str, table: str = "documents",
                              id_col: str = "doc_id",
                              buckets: int = 4096,
                              scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`sbo_perplexity`."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    return f"""
WITH t_all_docs AS (
  SELECT {id_col}, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {id_col}, {ws} AS ws FROM {table})
  WHERE len(ws) >= 3
),
tg_all AS (
  SELECT {id_col},
         unnest(list_transform(range(1, len(bs) - 1), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs) - 1), i -> bs[i + 1])) AS v,
         unnest(list_transform(range(1, len(bs) - 1), i -> bs[i + 2])) AS w
  FROM t_all_docs
),
t_tr_docs AS (
  SELECT list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {ws} AS ws FROM {table} WHERE {train_where})
  WHERE len(ws) >= 3
),
tg_tr AS (
  SELECT unnest(list_transform(range(1, len(bs) - 1), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs) - 1), i -> bs[i + 1])) AS v,
         unnest(list_transform(range(1, len(bs) - 1), i -> bs[i + 2])) AS w
  FROM t_tr_docs
),
n3 AS (SELECT u, v, w, count(*)::BIGINT AS c3 FROM tg_tr GROUP BY u, v, w),
actx AS (SELECT u, v, sum(c3)::BIGINT AS a_uv FROM n3 GROUP BY u, v),
b2 AS (SELECT v, w, sum(c3)::BIGINT AS b_vw FROM n3 GROUP BY v, w),
c1 AS (SELECT v, sum(c3)::BIGINT AS c_v FROM n3 GROUP BY v),
d1 AS (SELECT w, sum(c3)::BIGINT AS d_w FROM n3 GROUP BY w),
tt AS (SELECT sum(c3)::BIGINT AS t_all FROM n3),
per AS (
  SELECT {id_col}, count(*)::BIGINT AS n_trigrams,
         sum(CASE WHEN coalesce(c3, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
           AS n_hits3,
         sum(CASE WHEN coalesce(c3, 0) = 0 AND coalesce(b_vw, 0) > 0
                  THEN 1 ELSE 0 END)::BIGINT AS n_hits2,
         sum(CASE WHEN coalesce(c3, 0) > 0
                  THEN ({scale} * a_uv) // c3
                  WHEN coalesce(b_vw, 0) > 0
                  THEN (5 * {scale} * c_v) // (2 * b_vw)
                  ELSE (25 * {scale} * (t_all + {buckets}))
                       // (4 * (coalesce(d_w, 0) + 1)) END)::BIGINT
           AS sum_invp
  FROM tg_all
  LEFT JOIN n3 USING (u, v, w)
  LEFT JOIN actx USING (u, v)
  LEFT JOIN b2 USING (v, w)
  LEFT JOIN c1 USING (v)
  LEFT JOIN d1 USING (w)
  CROSS JOIN tt
  GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(n_trigrams, 0)::BIGINT AS n_trigrams,
       coalesce(n_hits3, 0)::BIGINT AS n_hits3,
       coalesce(n_hits2, 0)::BIGINT AS n_hits2,
       coalesce(sum_invp, 0)::BIGINT AS sum_invp,
       (CASE WHEN coalesce(n_trigrams, 0) > 0
             THEN sum_invp // n_trigrams END)::BIGINT AS sbo_permille
FROM {table} d LEFT JOIN per USING ({id_col})
ORDER BY d.{id_col}
"""


def lm_domain_matrix(docs: DataFrame, *, domain_col: str = "lang",
                     text_col: str = "text", id_col: str = "doc_id",
                     buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Domain-affinity matrix: for every ordered domain pair, how
    surprising domain DATA is under domain MODEL — the cross-perplexity
    diagnostic behind DoReMi-style mixture weighting and transfer
    studies (public practice: score each domain's text under each
    domain's n-gram LM; low surprise = close domains). One row per
    ``(model_domain, data_domain)`` with the exact integer mean of the
    lm_perplexity inverse-probability surrogate:

        cross_permille = (1/n_data) * sum_bigrams cnt_data *
                         ((c_u^model + B) * scale div (c_uv^model + 1))

    The diagonal is each domain's self-perplexity (always the row
    minimum for well-separated domains — pinned in pytest).

    Scale: ONE bigram featurize of the whole corpus into a per-domain
    pair histogram (``(dom, u, v, cnt)`` — map-side combined, text
    never shuffles), checkpointed once; the matrix is a histogram ×
    histogram join on the two int bucket keys (each side bounded by
    |domains| * occupied-pairs — dictionary-sized, NEVER the corpus)
    followed by a <= |domains|^2 aggregate. The corpus is read once."""
    bg = _lm_bigrams(docs.select(F.col(domain_col).alias("_dom"),
                                 F.col(text_col), F.lit(0).alias(id_col)),
                     text_col, "_dom", buckets)
    # one histogram per domain: (dom, u, v, cnt)
    hist = (
        bg.groupBy(F.col("_dom"), "u", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)   # feeds model AND data sides
    )
    model_ctx = hist.groupBy(F.col("_dom").alias("_m"), "u").agg(
        F.sum("cnt").cast("long").alias("c_u"))
    model_pair = hist.select(
        F.col("_dom").alias("_m"), "u", "v",
        F.col("cnt").alias("c_uv"))
    data = hist.select(F.col("_dom").alias("_d"), "u", "v", "cnt")
    # the matrix is TOTAL over domain pairs: replicate the data
    # histogram once per model domain (a <= |domains|-row broadcast),
    # then LEFT join the model tables — a data bucket the model never
    # saw scores the add-1 floor, it must not drop the pair
    doms = F.broadcast(hist.select(F.col("_dom").alias("_m")).distinct())
    return (
        data
        .crossJoin(doms)
        .join(model_ctx, ["_m", "u"], "left")
        .join(model_pair, ["_m", "u", "v"], "left")
        .select(
            "_m", "_d",
            F.col("cnt"),
            F.expr(
                f"cnt * (((coalesce(c_u, 0L) + {buckets}) * {scale})"
                " div (coalesce(c_uv, 0L) + 1))"
            ).alias("_mass"),
        )
        .groupBy(F.col("_m").alias("model_domain"),
                 F.col("_d").alias("data_domain"))
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum("_mass").cast("long").alias("sum_invp"),
        )
        .withColumn(
            "cross_permille",
            F.expr("sum_invp div n_bigrams"))
        .orderBy("model_domain", "data_domain")
    )


def lm_domain_matrix_oracle_sql(*, domain_col: str = "lang",
                                table: str = "documents",
                                buckets: int = 4096,
                                scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`lm_domain_matrix`."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    return f"""
WITH b AS (
  SELECT dom, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {domain_col} AS dom, {ws} AS ws FROM {table})
  WHERE len(ws) >= 2
),
bg AS (
  SELECT dom,
         unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b
),
hist AS (SELECT dom, u, v, count(*)::BIGINT AS cnt
         FROM bg GROUP BY dom, u, v),
mctx AS (SELECT dom AS m, u, sum(cnt)::BIGINT AS c_u
         FROM hist GROUP BY dom, u),
mpair AS (SELECT dom AS m, u, v, cnt AS c_uv FROM hist),
doms AS (SELECT DISTINCT dom AS m FROM hist)
SELECT m AS model_domain, d.dom AS data_domain,
       sum(d.cnt)::BIGINT AS n_bigrams,
       sum(d.cnt * (((coalesce(c_u, 0) + {buckets}) * {scale})
                    // (coalesce(c_uv, 0) + 1)))::BIGINT AS sum_invp,
       (sum(d.cnt * (((coalesce(c_u, 0) + {buckets}) * {scale})
                     // (coalesce(c_uv, 0) + 1)))
        // sum(d.cnt))::BIGINT AS cross_permille
FROM hist d
CROSS JOIN doms
LEFT JOIN mctx USING (m, u)
LEFT JOIN mpair USING (m, u, v)
GROUP BY m, d.dom
ORDER BY model_domain, data_domain
"""


def doremi_weights(docs: DataFrame, *, domain_col: str = "lang",
                   text_col: str = "text", id_col: str = "doc_id",
                   buckets: int = 4096, scale: int = 1000,
                   iters: int = 5, weight_scale: int = 1_000_000,
                   step_k: int = 2000,
                   smooth_num: int = 1, smooth_den: int = 5) -> DataFrame:
    """Learned domain mixture weights — the optimizer step the
    :func:`lm_domain_matrix` diagnostic feeds (DoReMi, Xie et al. 2023):
    domains whose data stays SURPRISING under the other domains' models
    (high excess cross-perplexity) earn weight; easy/redundant domains
    shrink. The published Group-DRO inner step is exponentiated-gradient
    ascent; this uses the rational ``w * (1 + eta * excess)``
    multiplicative-weights variant (same regret family, Arora-Hazan-Kale
    survey) so every iterate is an EXACT integer and the result
    hash-matches the DuckDB oracle — the engine's standing no-
    transcendentals rule.

    Construction, all integers:

    1. excess_d = max(0, mean_{m != d}(cross_permille[m, d])
                         - cross_permille[d, d])   (truncating mean)
    2. e_d = (excess_d * 1000) div max_excess      (data-independent step)
    3. iterate ``iters`` times from uniform w_d = weight_scale div n:
         u_d = w_d * (step_k + e_d)
         w_d = (u_d * weight_scale) div sum(u)     (renormalize)
         w_d = ((smooth_den - smooth_num) * w_d
                + smooth_num * (weight_scale div n)) div smooth_den
       (the paper's uniform-smoothing with c = smooth_num/smooth_den)
    4. report the last iterate and the across-iterate mean (DoReMi
       returns the AVERAGE of the iterates).

    Scale: the corpus is read once, by lm_domain_matrix (text never
    shuffles — bigram histograms do); everything after is a bounded
    <= |domains|^2 frame, collected to the driver for the iteration —
    the power-iteration/k-means precedent: driver state is O(|domains|),
    never corpus-sized. Magnitudes: w <= weight_scale (1e6), step
    factor <= step_k + 1000, so u <= ~3e9 and u * weight_scale
    <= ~3e15 — far under 2^63 in both engines."""
    mat = lm_domain_matrix(
        docs, domain_col=domain_col, text_col=text_col, id_col=id_col,
        buckets=buckets, scale=scale,
    ).collect()                      # bounded: <= |domains|^2 rows
    # NULL domains are legal data and the DIAGNOSTIC matrix emits their
    # rows, but the MIXTURE excludes them on both engines: a NULL
    # "model" row is a join-floor artifact (its context/pair lookups
    # never match, so every cross-perplexity is the add-1 ceiling), and
    # unlabeled data cannot be weight-targeted. Symmetric with the
    # oracle's `WHERE dom IS NOT NULL` doms/ex filters — previously the
    # Python side included the NULL model in the excess mean while the
    # oracle's `m <> dd` silently dropped it (r11 ADVICE finding).
    doms = sorted({r.model_domain for r in mat
                   if r.model_domain is not None})
    n = len(doms)
    cross = {(r.model_domain, r.data_domain): int(r.cross_permille)
             for r in mat}
    excess = {}
    for d in doms:
        if n == 1:
            excess[d] = 0
            continue
        off = sum(cross[(m, d)] for m in doms if m != d) // (n - 1)
        excess[d] = max(0, off - cross[(d, d)])
    mx = max(excess.values()) if excess else 0
    e = {d: (excess[d] * 1000) // mx if mx > 0 else 0 for d in doms}

    w = {d: weight_scale // n for d in doms}
    acc = {d: 0 for d in doms}
    for _ in range(iters):
        u = {d: w[d] * (step_k + e[d]) for d in doms}
        tot = sum(u.values())
        w = {d: (u[d] * weight_scale) // tot for d in doms}
        w = {d: ((smooth_den - smooth_num) * w[d]
                 + smooth_num * (weight_scale // n)) // smooth_den
             for d in doms}
        for d in doms:
            acc[d] += w[d]
    spark = docs.sparkSession
    rows = [(d, excess[d], e[d], w[d], acc[d] // iters) for d in doms]
    return local_frame(
        spark, rows,
        f"{domain_col} string, excess_permille long, excess_step long, "
        "weight_final long, weight_avg long",
    ).orderBy(domain_col)


def doremi_weights_oracle_sql(*, domain_col: str = "lang",
                              table: str = "documents",
                              buckets: int = 4096, scale: int = 1000,
                              iters: int = 5,
                              weight_scale: int = 1_000_000,
                              step_k: int = 2000,
                              smooth_num: int = 1,
                              smooth_den: int = 5) -> str:
    """DuckDB recomputation of :func:`doremi_weights` — the matrix CTEs
    of lm_domain_matrix_oracle_sql followed by the multiplicative-
    weights iteration UNROLLED as chained CTEs (the pagerank/k-means
    oracle construction). All arithmetic is non-negative integers, so
    DuckDB's truncating ``//`` equals Python's floor ``//`` on the
    Spark side."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    smooth_b = smooth_den - smooth_num
    unrolled = []
    prev = "w0"
    for t in range(1, iters + 1):
        # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
        # reference, and the correlated scalar subqueries below would
        # otherwise re-evaluate the whole upstream chain per row —
        # exponential in the iteration depth (measured: ~200 s at
        # sf0.001 un-materialized, sub-second materialized)
        unrolled.append(f"""
u{t} AS MATERIALIZED (
  SELECT dom, e, w * (({step_k})::HUGEINT + e) AS u FROM {prev}),
t{t} AS MATERIALIZED (SELECT sum(u) AS tot FROM u{t}),
w{t} AS MATERIALIZED (
  SELECT dom, e,
         ({smooth_b} * ((u * {weight_scale}) // (SELECT tot FROM t{t}))
          + {smooth_num} * ({weight_scale} // (SELECT n FROM nd)))
         // {smooth_den} AS w
  FROM u{t}
)""")
        prev = f"w{t}"
    avg = " + ".join(f"(SELECT w FROM w{t} WHERE w{t}.dom = ex.dom)"
                     for t in range(1, iters + 1))
    return f"""
WITH b AS (
  SELECT dom, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {domain_col} AS dom, {ws} AS ws FROM {table})
  WHERE len(ws) >= 2
),
bg AS (
  SELECT dom,
         unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b
),
hist AS MATERIALIZED (SELECT dom, u, v, count(*)::BIGINT AS cnt
         FROM bg GROUP BY dom, u, v),
mctx AS MATERIALIZED (SELECT dom AS m, u, sum(cnt)::BIGINT AS c_u
         FROM hist GROUP BY dom, u),
mpair AS MATERIALIZED (SELECT dom AS m, u, v, cnt AS c_uv FROM hist),
-- the MIXTURE excludes NULL domains on both engines (unlabeled data
-- cannot be weight-targeted; the NULL model row is a join-floor
-- artifact) — mirrors the Python side's `if r.model_domain is not None`
doms AS MATERIALIZED (SELECT DISTINCT dom AS m FROM hist
                      WHERE dom IS NOT NULL),
mat AS MATERIALIZED (
  SELECT m, d.dom AS dd,
         (sum(d.cnt * (((coalesce(c_u, 0) + {buckets}) * {scale})
                       // (coalesce(c_uv, 0) + 1)))
          // sum(d.cnt))::BIGINT AS cp
  FROM hist d
  CROSS JOIN doms
  LEFT JOIN mctx USING (m, u)
  LEFT JOIN mpair USING (m, u, v)
  GROUP BY m, d.dom
),
nd AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM doms),
ex AS MATERIALIZED (
  SELECT dd AS dom,
         CASE WHEN (SELECT n FROM nd) = 1 THEN 0
              ELSE greatest(0::HUGEINT,
                   (sum(CASE WHEN m <> dd THEN cp ELSE 0 END)
                    // greatest(1, (SELECT n FROM nd) - 1))
                   - max(CASE WHEN m = dd THEN cp END))
         END::BIGINT AS excess
  FROM mat WHERE dd IS NOT NULL GROUP BY dd
),
mxx AS MATERIALIZED (SELECT max(excess) AS mx FROM ex),
es AS MATERIALIZED (
  SELECT dom, excess,
         CASE WHEN (SELECT mx FROM mxx) > 0
              THEN (excess * 1000) // (SELECT mx FROM mxx)
              ELSE 0 END::BIGINT AS e
  FROM ex
),
w0 AS MATERIALIZED (SELECT dom, e,
              ({weight_scale} // (SELECT n FROM nd))::HUGEINT AS w
       FROM es),
{", ".join(s.strip() for s in unrolled)}
SELECT ex.dom AS {domain_col},
       ex.excess::BIGINT AS excess_permille,
       es.e::BIGINT AS excess_step,
       (SELECT w FROM w{iters} WHERE w{iters}.dom = ex.dom)::BIGINT
         AS weight_final,
       (({avg}) // {iters})::BIGINT AS weight_avg
FROM ex JOIN es USING (dom)
ORDER BY {domain_col}
"""


def _domain_rank(docs: DataFrame, domains, *,
                 domain_col: str, id_col: str) -> DataFrame:
    """The deterministic per-domain (md5(id), id) rank shared by every
    mixture operator (doremi_resample / anneal_mix / epoch_mix):
    restrict to the WEIGHTED domains BEFORE ranking (NULL-domain and
    unweighted rows must not pay the range-partition + sort — they
    would only be dropped by the selection join after), then rank
    through the partitioned two-level primitive — no low-cardinality
    ``Window.partitionBy`` at any corpus size."""
    from .. import plans

    return plans.two_level_row_number(
        docs.select(domain_col, id_col)
        .filter(F.col(domain_col).isin(list(domains)))
        .withColumn("_h", F.md5(F.col(id_col).cast("string"))),
        order_cols=["_h", id_col], out="_rn",
        partition_cols=[domain_col],
    )


def doremi_resample(docs: DataFrame, *, domain_col: str = "lang",
                    text_col: str = "text", id_col: str = "doc_id",
                    buckets: int = 4096, scale: int = 1000,
                    iters: int = 5, weight_scale: int = 1_000_000,
                    step_k: int = 2000,
                    smooth_num: int = 1, smooth_den: int = 5) -> DataFrame:
    """APPLY the learned DoReMi mixture: resample the corpus so domain
    ``d`` forms fraction ``weight_avg_d / weight_scale`` of the output,
    with NO upsampling — the standard no-repeat application of learned
    mixture weights (the matrix is the diagnostic, :func:`doremi_weights`
    the optimizer, this the data step; together they are the full
    public DoReMi loop). Construction, all integers:

    1. T = min_d (n_d * weight_scale) div w_d — the largest output size
       the BINDING domain (scarcest relative to its weight) affords;
    2. k_d = least(n_d, (w_d * T) div weight_scale) docs per domain
       (k_d <= n_d by T's construction; truncation both engines');
    3. keep the k_d docs with the smallest (md5(id), id) per domain —
       the engine's deterministic-sampling convention (q_n19/q_n24),
       reproducible across runs, engines and executors.

    Returns the per-domain audit row the data card wants:
    ``(domain, n_avail, weight_avg, k_target, n_kept, sum_kept_ids)``
    — ``sum_kept_ids`` hash-proves the exact SELECTION, not just the
    counts. Callers wanting the documents themselves join the same
    rank rule; this surface keeps the output scalar and bounded.

    NULL domains: excluded from the mixture on BOTH engines (see
    :func:`doremi_weights` — the weights frame carries no NULL row, so
    the waterline, k_targets and the selection all ignore unlabeled
    docs consistently; the audit emits no NULL row rather than a
    self-contradicting ``k_target > 0, n_kept = 0`` one).

    Scale: the weights come from one corpus featurize (doremi_weights);
    the per-domain (md5, id) rank runs through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number`
    with ``partition_cols=[domain]`` — the domain key is LOW-cardinality
    (~|langs|) over a corpus-sized frame, so a plain
    ``Window.partitionBy(domain)`` would sort each domain's whole
    (domain, id) projection through ONE task (tens of GB per reducer at
    10^10 docs); the two-level form range-partitions on (domain, md5,
    id) so one domain spans many shards sorted in parallel, with
    per-(shard, domain) offsets (r11 verdict's weak). The target table
    is a broadcast <= |domains| frame; the audit is one map-side agg."""
    w = doremi_weights(
        docs, domain_col=domain_col, text_col=text_col, id_col=id_col,
        buckets=buckets, scale=scale, iters=iters,
        weight_scale=weight_scale, step_k=step_k,
        smooth_num=smooth_num, smooth_den=smooth_den,
    ).select(domain_col, "weight_avg").collect()   # bounded: |domains|
    weights = {r[domain_col]: int(r.weight_avg) for r in w}
    spark = docs.sparkSession
    tgt_schema = (f"{domain_col} string, n_avail long, weight_avg long, "
                  "k_target long")
    if not weights:
        # no scorable domain (e.g. every doc under 2 words) — the
        # oracle's dw CTE is empty too, so the audit frame is empty,
        # never a min()-of-empty crash
        return spark.createDataFrame(
            [], tgt_schema + ", n_kept long, sum_kept_ids long")
    navail = {r[domain_col]: int(r.n)
              for r in docs.groupBy(domain_col)
              .agg(F.count("*").cast("long").alias("n")).collect()
              if r[domain_col] in weights}
    t = min((navail[d] * weight_scale) // weights[d] for d in weights)
    targets = {d: min(navail[d], (weights[d] * t) // weight_scale)
               for d in weights}
    # the broadcast hint lives at the INNER selection join only: on the
    # audit's left-outer join below, tgt is the PRESERVED side, where a
    # broadcast hint is unsupported and would just log a dropped-hint
    # warning (both frames there are <= |domains| rows anyway)
    tgt = local_frame(
        spark,
        [(d, navail[d], weights[d], targets[d]) for d in sorted(weights)],
        tgt_schema,
    )
    ranked = _domain_rank(docs, weights, domain_col=domain_col,
                          id_col=id_col)
    kept = (
        ranked
        .join(F.broadcast(tgt), domain_col)   # inner on the weighted
        #                             domains the rank was built over
        .filter(F.col("_rn") <= F.col("k_target"))
        .groupBy(domain_col)
        .agg(F.count("*").cast("long").alias("n_kept"),
             F.sum(id_col).cast("long").alias("sum_kept_ids"))
    )
    return (
        tgt.join(kept, domain_col, "left")
        .select(
            domain_col, "n_avail", "weight_avg", "k_target",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("sum_kept_ids", F.lit(0)).cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy(domain_col)
    )


def doremi_resample_oracle_sql(*, domain_col: str = "lang",
                               table: str = "documents",
                               buckets: int = 4096, scale: int = 1000,
                               iters: int = 5,
                               weight_scale: int = 1_000_000,
                               step_k: int = 2000,
                               smooth_num: int = 1,
                               smooth_den: int = 5) -> str:
    """DuckDB recomputation of :func:`doremi_resample`: the full
    doremi_weights oracle nested as a CTE, then the same integer
    waterline / per-domain (md5, id) rank selection."""
    dw = doremi_weights_oracle_sql(
        domain_col=domain_col, table=table, buckets=buckets, scale=scale,
        iters=iters, weight_scale=weight_scale, step_k=step_k,
        smooth_num=smooth_num, smooth_den=smooth_den,
    )
    return f"""
WITH dw AS MATERIALIZED ({dw}),
navail AS MATERIALIZED (
  SELECT {domain_col}, count(*)::BIGINT AS n_avail
  FROM {table} GROUP BY {domain_col}
),
tc AS MATERIALIZED (
  SELECT min((n_avail::HUGEINT * {weight_scale}) // weight_avg) AS t
  FROM dw JOIN navail USING ({domain_col})
),
tgt AS MATERIALIZED (
  SELECT {domain_col}, n_avail, weight_avg,
         least(n_avail,
               ((weight_avg::HUGEINT * (SELECT t FROM tc))
                // {weight_scale}))::BIGINT AS k_target
  FROM dw JOIN navail USING ({domain_col})
),
sel AS MATERIALIZED (
  SELECT {domain_col}, doc_id,
         row_number() OVER (PARTITION BY {domain_col}
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM {table}
),
kept AS (
  SELECT s.{domain_col}, count(*)::BIGINT AS n_kept,
         sum(doc_id)::BIGINT AS sum_kept_ids
  FROM sel s JOIN tgt USING ({domain_col})
  WHERE s.rn <= k_target
  GROUP BY s.{domain_col}
)
SELECT t.{domain_col}, n_avail, weight_avg, k_target,
       coalesce(n_kept, 0)::BIGINT AS n_kept,
       coalesce(sum_kept_ids, 0)::BIGINT AS sum_kept_ids
FROM tgt t LEFT JOIN kept USING ({domain_col})
ORDER BY t.{domain_col}
"""


def kn_perplexity(docs: DataFrame, train_where: str,
                  text_col: str = "text", id_col: str = "doc_id",
                  buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Interpolated Kneser-Ney fluency scoring (Chen & Goodman 1999 —
    the empirically-best classical n-gram smoothing, and the one KenLM
    serves; public method): train on the ``train_where`` subset, score
    every document. Completes the engine's smoothing canon: add-1
    (lm_perplexity, CCNet's shape), stupid backoff (sbo_perplexity,
    Brants et al.), and now KN — the three named baselines of the
    n-gram LM literature, all over the SAME checkpointed histogram
    artifact and all integer-exact.

    KN's two ideas survive the integer-rational translation intact
    because absolute discounting is RATIONAL: with discount D = 3/4,

        p(v|u) = max(c(u,v) - 3/4, 0)/c(u)
                 + (3/4) * N1+(u.)/c(u) * N1+(.v)/T

    over common denominator 4*c(u)*T (T = distinct bigram types,
    N1+(u.) = distinct continuations of u, N1+(.v) = distinct contexts
    of v — the continuation count, KN's signature). The score is the
    engine's standard inverse-probability surrogate: per bigram,

        inv = least( (4*c(u)*T*scale) div max(num, 1), cap )
        num = T*max(4*c(u,v) - 3, 0) + 3*N1+(u.)*N1+(.v)

    with an unseen CONTEXT falling back to the pure continuation
    distribution ``inv = (T*scale) div max(N1+(.v), 1)`` and
    ``cap = 4*(T + buckets)*scale`` bounding the never-seen-anywhere
    token at the uniform-over-types floor (one unknown word cannot
    dominate a document mean). Every operation is +,*,max,min and ONE
    truncating division on non-negative ints — Spark ``div`` == DuckDB
    ``//``, hash-exact. Output: ``(id, n_bigrams, sum_invp,
    kn_permille)``, NULL kn for docs with < 2 tokens.

    Scale: same plan as lm_score — one training featurize into the
    checkpointed pair histogram, ALL of ctx/continuation/type-count
    marginals derived from it (never a second corpus pass), one
    two-int-key join + doc-id reduce over the corpus; text never
    shuffles. int64 discipline: 4*c(u)*T*scale must stay under 2^63 —
    c(u) <= 1.4e8 at the default buckets/scale; past that drop
    ``scale`` or promote to decimal(38,0) (lm_score's documented
    boundary, one term earlier)."""
    model = lm_model(docs.filter(train_where), text_col, id_col, buckets)
    return kn_score(docs, model, text_col=text_col, id_col=id_col,
                    buckets=buckets, scale=scale)


def kn_score(docs: DataFrame, model: DataFrame, *,
             text_col: str = "text", id_col: str = "doc_id",
             buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Score ``docs`` against a trained :func:`lm_model` histogram with
    interpolated Kneser-Ney — the serving half of
    :func:`kn_perplexity` (lm_score's contract: one row per input doc,
    per-doc independent, NULL for the unscorable; r12 plan shape: the
    keep_empty placeholder row replaces the stitch-back join, see
    lm_score)."""
    bg_all = _lm_bigrams(docs, text_col, id_col, buckets, keep_empty=True)
    ctx = model.groupBy("u").agg(
        F.sum("c_uv").cast("long").alias("c_u"),
        F.count("*").cast("long").alias("n1f"),
    )
    bwd = model.groupBy("v").agg(F.count("*").cast("long").alias("n1b"))
    tt = model.agg(F.count("*").cast("long").alias("t_types"))
    inv = (
        "CASE WHEN u IS NULL THEN CAST(NULL AS BIGINT) ELSE least("
        " CASE WHEN c_u IS NOT NULL THEN"
        f"  (4L * c_u * t_types * {scale}) div greatest("
        "    t_types * greatest(4L * coalesce(c_uv, 0L) - 3L, 0L)"
        "    + 3L * n1f * coalesce(n1b, 0L), 1L)"
        f" ELSE (t_types * {scale}) div greatest(coalesce(n1b, 0L), 1L)"
        " END,"
        f" 4L * (t_types + {buckets}) * {scale}) END"
    )
    return (
        bg_all
        .join(model, ["u", "v"], "left")
        .join(F.broadcast(ctx), ["u"], "left")
        .join(F.broadcast(bwd), ["v"], "left")
        .join(F.broadcast(tt))
        .select(F.col(id_col), F.col("u"), F.expr(inv).alias("_invp"))
        .groupBy(id_col)
        .agg(
            F.count("u").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("_invp"), F.lit(0)).cast("long")
            .alias("sum_invp"),
        )
        .withColumn(
            "kn_permille",
            F.expr("CASE WHEN n_bigrams > 0 THEN sum_invp div n_bigrams "
                   "ELSE CAST(NULL AS BIGINT) END"),
        )
    )


def kn_perplexity_oracle_sql(train_where: str, table: str = "documents",
                             id_col: str = "doc_id",
                             buckets: int = 4096,
                             scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`kn_perplexity` — the lm oracle's
    CTE chain with KN's derived marginals (continuation counts + type
    total) and the same capped inverse-probability expression."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    inv = (
        "least("
        " CASE WHEN c_u IS NOT NULL THEN"
        f"  (4 * c_u::HUGEINT * t_types * {scale}) // greatest("
        "    t_types::HUGEINT * greatest(4 * coalesce(c_uv, 0) - 3, 0)"
        "    + 3 * n1f::HUGEINT * coalesce(n1b, 0), 1)"
        f" ELSE (t_types::HUGEINT * {scale})"
        "  // greatest(coalesce(n1b, 0), 1)"
        " END,"
        f" 4 * (t_types::HUGEINT + {buckets}) * {scale})"
    )
    return f"""
WITH b_all AS MATERIALIZED (
  SELECT {id_col}, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {id_col}, {ws} AS ws FROM {table})
  WHERE len(ws) >= 2
),
bg_all AS MATERIALIZED (
  SELECT {id_col},
         unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_all
),
b_tr AS MATERIALIZED (
  SELECT list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {ws} AS ws FROM {table} WHERE {train_where})
  WHERE len(ws) >= 2
),
bg_tr AS MATERIALIZED (
  SELECT unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_tr
),
ph AS MATERIALIZED (SELECT u, v, count(*)::BIGINT AS c_uv
                    FROM bg_tr GROUP BY u, v),
ch AS MATERIALIZED (SELECT u, sum(c_uv)::BIGINT AS c_u,
                           count(*)::BIGINT AS n1f
                    FROM ph GROUP BY u),
bh AS MATERIALIZED (SELECT v, count(*)::BIGINT AS n1b FROM ph GROUP BY v),
tt AS MATERIALIZED (SELECT count(*)::BIGINT AS t_types FROM ph),
per AS MATERIALIZED (
  SELECT {id_col}, count(*)::BIGINT AS n_bigrams,
         sum({inv})::BIGINT AS sum_invp
  FROM bg_all
  LEFT JOIN ph USING (u, v)
  LEFT JOIN ch USING (u)
  LEFT JOIN bh USING (v)
  CROSS JOIN tt
  GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sum_invp, 0)::BIGINT AS sum_invp,
       (CASE WHEN coalesce(n_bigrams, 0) > 0
             THEN sum_invp // n_bigrams END)::BIGINT AS kn_permille
FROM {table} d LEFT JOIN per USING ({id_col})
ORDER BY d.{id_col}
"""


def mkn_perplexity(docs: DataFrame, train_where: str,
                   text_col: str = "text", id_col: str = "doc_id",
                   buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """MODIFIED Kneser-Ney fluency scoring (Chen & Goodman 1999 §3;
    public method) — the literature's production variant and KenLM's
    actual default: instead of :func:`kn_perplexity`'s single fixed
    discount, three DATA-DERIVED discounts D1/D2/D3+ apply to bigrams
    seen once / twice / three-plus times, each estimated from the
    model's count-of-count statistics n1..n4 (number of bigram types
    with count exactly 1..4):

        Y  = n1 / (n1 + 2 n2)
        D1 = 1 - 2 Y n2 / n1 = Y          D2 = 2 - 3 Y n3 / n2
        D3 = 3 - 4 Y n4 / n3              (each clamped at >= 0)

    The discounts are RATIONAL in integer count-of-counts, but their
    exact common denominator (n2 n3 (n1 + 2 n2)) overflows int64 when
    multiplied through the score, so they are QUANTIZED once onto a
    fixed /1024 grid with the engine's truncating division (Spark
    ``div`` == DuckDB ``//``, hash-exact both sides):

        d1 = (1024 n1) div (n1 + 2 n2)          [= 1024 Y]
        d2 = max(0, 2048 - (3072 n1 n3) div (n2 (n1 + 2 n2)))
        d3 = max(0, 3072 - (4096 n1 n4) div (n3 (n1 + 2 n2)))

    — the same integer-surrogate discipline as the rest of the scoring
    canon (scores are already /1000 permilles); the discounts stay
    data-derived, only their last two bits are grid noise. With
    per-context continuation-type counts N1(u)/N2(u)/N3+(u) (number of
    v with c(u,v) = 1 / = 2 / >= 3), the interpolation weight is
    gamma(u) = (d1 N1 + d2 N2 + d3 N3+)/(1024 c(u)) — mKN's
    leave-one-out mass — and per bigram

        num = T (1024 c(u,v) - d(c(u,v)))_+ + (d1 N1 + d2 N2 + d3 N3+) N1+(.v)
        inv = least( (1024 c(u) T scale) div max(num, 1), cap )

    with the unseen-context fallback and cap exactly as KN
    (``cap = 1024 (T + buckets) scale``). Output
    ``(id, n_bigrams, sum_invp, mkn_permille)``; NULL for < 2 tokens.

    Scale: identical plan to kn_score — the count-of-counts and
    discounts are ONE extra 1-row aggregate over the same checkpointed
    histogram (broadcast with the type total), the context aggregate
    gains two integer columns; still one two-int-key join + doc-id
    reduce, text never shuffles. int64 discipline: 1024 c(u) T scale
    must stay under 2^63 — c(u) T <= 9e12 at scale=1000, e.g. c(u) <=
    1e6 against T <= 9e6 types; past that drop ``scale`` (kn_score's
    documented boundary, 8 bits earlier)."""
    model = lm_model(docs.filter(train_where), text_col, id_col, buckets)
    return mkn_score(docs, model, text_col=text_col, id_col=id_col,
                     buckets=buckets, scale=scale)


def mkn_score(docs: DataFrame, model: DataFrame, *,
              text_col: str = "text", id_col: str = "doc_id",
              buckets: int = 4096, scale: int = 1000) -> DataFrame:
    """Score ``docs`` against a trained :func:`lm_model` histogram with
    modified Kneser-Ney — the serving half of :func:`mkn_perplexity`
    (lm_score's contract: one row per input doc, NULL when unscorable;
    r12 plan shape: the keep_empty placeholder row replaces the
    stitch-back join, see lm_score)."""
    bg_all = _lm_bigrams(docs, text_col, id_col, buckets, keep_empty=True)
    ctx = model.groupBy("u").agg(
        F.sum("c_uv").cast("long").alias("c_u"),
        F.sum(F.when(F.col("c_uv") == 1, 1).otherwise(0))
        .cast("long").alias("n1u"),
        F.sum(F.when(F.col("c_uv") == 2, 1).otherwise(0))
        .cast("long").alias("n2u"),
        F.sum(F.when(F.col("c_uv") >= 3, 1).otherwise(0))
        .cast("long").alias("n3u"),
    )
    bwd = model.groupBy("v").agg(F.count("*").cast("long").alias("n1b"))
    # count-of-counts n1..n4 + type total, then the three quantized
    # discounts — ONE 1-row frame broadcast into the scoring join
    disc = (
        model.agg(
            F.count("*").cast("long").alias("t_types"),
            *[F.sum(F.when(F.col("c_uv") == i, 1).otherwise(0))
              .cast("long").alias(f"n{i}") for i in (1, 2, 3, 4)],
        )
        .select(
            "t_types",
            F.expr("(1024L * n1) div greatest(n1 + 2L * n2, 1L)")
            .alias("d1"),
            F.expr("greatest(0L, 2048L - (3072L * n1 * n3) div "
                   "greatest(n2 * (n1 + 2L * n2), 1L))").alias("d2"),
            F.expr("greatest(0L, 3072L - (4096L * n1 * n4) div "
                   "greatest(n3 * (n1 + 2L * n2), 1L))").alias("d3"),
        )
    )
    inv = (
        "CASE WHEN u IS NULL THEN CAST(NULL AS BIGINT) ELSE least("
        " CASE WHEN c_u IS NOT NULL THEN"
        f"  (1024L * c_u * t_types * {scale}) div greatest("
        "    t_types * greatest(1024L * coalesce(c_uv, 0L)"
        "      - CASE WHEN coalesce(c_uv, 0L) = 1 THEN d1"
        "             WHEN c_uv = 2 THEN d2"
        "             WHEN c_uv >= 3 THEN d3 ELSE 0L END, 0L)"
        "    + (d1 * n1u + d2 * n2u + d3 * n3u) * coalesce(n1b, 0L), 1L)"
        f" ELSE (t_types * {scale}) div greatest(coalesce(n1b, 0L), 1L)"
        " END,"
        f" 1024L * (t_types + {buckets}) * {scale}) END"
    )
    return (
        bg_all
        .join(model, ["u", "v"], "left")
        .join(F.broadcast(ctx), ["u"], "left")
        .join(F.broadcast(bwd), ["v"], "left")
        .join(F.broadcast(disc))
        .select(F.col(id_col), F.col("u"), F.expr(inv).alias("_invp"))
        .groupBy(id_col)
        .agg(
            F.count("u").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("_invp"), F.lit(0)).cast("long")
            .alias("sum_invp"),
        )
        .withColumn(
            "mkn_permille",
            F.expr("CASE WHEN n_bigrams > 0 THEN sum_invp div n_bigrams "
                   "ELSE CAST(NULL AS BIGINT) END"),
        )
    )


def mkn_perplexity_oracle_sql(train_where: str, table: str = "documents",
                              id_col: str = "doc_id",
                              buckets: int = 4096,
                              scale: int = 1000) -> str:
    """DuckDB recomputation of :func:`mkn_perplexity` — the KN oracle's
    CTE chain with the count-of-count discount derivation and the
    per-count discount dispatch."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bucket = _dsir_bucket_duck("w", buckets)
    inv = (
        "least("
        " CASE WHEN c_u IS NOT NULL THEN"
        f"  (1024 * c_u::HUGEINT * t_types * {scale}) // greatest("
        "    t_types::HUGEINT * greatest(1024 * coalesce(c_uv, 0)"
        "      - CASE WHEN coalesce(c_uv, 0) = 1 THEN d1"
        "             WHEN c_uv = 2 THEN d2"
        "             WHEN c_uv >= 3 THEN d3 ELSE 0 END, 0)"
        "    + (d1::HUGEINT * n1u + d2 * n2u + d3 * n3u)"
        "      * coalesce(n1b, 0), 1)"
        f" ELSE (t_types::HUGEINT * {scale})"
        "  // greatest(coalesce(n1b, 0), 1)"
        " END,"
        f" 1024 * (t_types::HUGEINT + {buckets}) * {scale})"
    )
    return f"""
WITH b_all AS MATERIALIZED (
  SELECT {id_col}, list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {id_col}, {ws} AS ws FROM {table})
  WHERE len(ws) >= 2
),
bg_all AS MATERIALIZED (
  SELECT {id_col},
         unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_all
),
b_tr AS MATERIALIZED (
  SELECT list_transform(ws, w -> {bucket}) AS bs
  FROM (SELECT {ws} AS ws FROM {table} WHERE {train_where})
  WHERE len(ws) >= 2
),
bg_tr AS MATERIALIZED (
  SELECT unnest(list_transform(range(1, len(bs)), i -> bs[i])) AS u,
         unnest(list_transform(range(1, len(bs)), i -> bs[i + 1])) AS v
  FROM b_tr
),
ph AS MATERIALIZED (SELECT u, v, count(*)::BIGINT AS c_uv
                    FROM bg_tr GROUP BY u, v),
ch AS MATERIALIZED (
  SELECT u, sum(c_uv)::BIGINT AS c_u,
         sum(CASE WHEN c_uv = 1 THEN 1 ELSE 0 END)::BIGINT AS n1u,
         sum(CASE WHEN c_uv = 2 THEN 1 ELSE 0 END)::BIGINT AS n2u,
         sum(CASE WHEN c_uv >= 3 THEN 1 ELSE 0 END)::BIGINT AS n3u
  FROM ph GROUP BY u),
bh AS MATERIALIZED (SELECT v, count(*)::BIGINT AS n1b FROM ph GROUP BY v),
dsc AS MATERIALIZED (
  SELECT t_types,
         ((1024 * n1) // greatest(n1 + 2 * n2, 1))::BIGINT AS d1,
         greatest(0, 2048 - (3072 * n1::HUGEINT * n3)
                  // greatest(n2::HUGEINT * (n1 + 2 * n2), 1))::BIGINT
           AS d2,
         greatest(0, 3072 - (4096 * n1::HUGEINT * n4)
                  // greatest(n3::HUGEINT * (n1 + 2 * n2), 1))::BIGINT
           AS d3
  FROM (SELECT count(*)::BIGINT AS t_types,
               sum(CASE WHEN c_uv = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN c_uv = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
               sum(CASE WHEN c_uv = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
               sum(CASE WHEN c_uv = 4 THEN 1 ELSE 0 END)::BIGINT AS n4
        FROM ph)
),
per AS MATERIALIZED (
  SELECT {id_col}, count(*)::BIGINT AS n_bigrams,
         sum({inv})::BIGINT AS sum_invp
  FROM bg_all
  LEFT JOIN ph USING (u, v)
  LEFT JOIN ch USING (u)
  LEFT JOIN bh USING (v)
  CROSS JOIN dsc
  GROUP BY {id_col}
)
SELECT d.{id_col}, coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(sum_invp, 0)::BIGINT AS sum_invp,
       (CASE WHEN coalesce(n_bigrams, 0) > 0
             THEN sum_invp // n_bigrams END)::BIGINT AS mkn_permille
FROM {table} d LEFT JOIN per USING ({id_col})
ORDER BY d.{id_col}
"""


def anneal_mix(docs: DataFrame,
               phases: list[tuple[str, dict[str, int], int]], *,
               weight_scale: int = 1000,
               domain_col: str = "lang",
               id_col: str = "doc_id") -> DataFrame:
    """Two-phase (or N-phase) data SCHEDULE — the midtraining/annealing
    mix of public practice (Llama 3 and OLMo 2 both report a final
    phase that re-weights toward high-quality domains; public method,
    re-derived): given per-phase per-domain mixture weights and a
    per-phase document budget, emit each phase's per-domain allocation
    and the hash-provable kept-set audit. ``phases`` is a list of
    ``(phase_name, {domain: weight}, budget_permille)`` where weights
    are ``/weight_scale`` integers and the budget is a permille of the
    participating corpus (scale-free across fixture sizes).

    Allocation reuses :func:`doremi_resample`'s waterline arithmetic,
    all integers: per phase, ``T_cap = min_d (n_d * weight_scale) div
    w_d`` is the largest exactly-proportioned output the scarcest
    domain affords; the phase's size is ``T = min(T_cap, budget)``;
    ``k_d = least(n_d, (w_d * T) div weight_scale)``. Selection is the
    engine's deterministic (md5(id), id) rank per domain — computed
    ONCE and shared by every phase (phases differ only in how deep
    into the same deterministic order they reach, so phase kept-sets
    are nested prefixes per domain; an epoch-disjoint schedule is a
    caller-side variant, not this contract). Domains absent from a
    phase's weight dict (and NULL domains) take no docs in that phase.

    Output: one row per (phase, domain) —
    ``(phase, domain, n_avail, weight, k_target, n_kept,
    sum_kept_ids)`` ordered by (phase, domain); ``sum_kept_ids``
    hash-proves the exact selection (doremi_resample's convention).

    Scale: one count aggregate (<= |domains| rows to the driver — the
    declared bounded-collect precedent), ONE corpus rank through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number`
    with ``partition_cols=[domain]`` (no low-cardinality partitionBy
    window), one broadcast join against the <= |phases|*|domains|
    target table, one map-side audit agg. The corpus is scanned twice
    (count + rank), never collected."""
    spark = docs.sparkSession
    out_schema = (f"phase string, {domain_col} string, n_avail long, "
                  "weight long, k_target long, n_kept long, "
                  "sum_kept_ids long")
    alldoms = sorted({d for _, ws, _ in phases for d in ws})
    if any(w <= 0 for _, ws, _ in phases for w in ws.values()):
        # a zero weight would divide the waterline by zero here and
        # yield a NULL-skipping min on DuckDB — two different wrong
        # answers; the contract is "omit the domain from the phase"
        raise ValueError("anneal_mix weights must be positive; omit "
                         "the domain from the phase instead")
    if not alldoms:
        return spark.createDataFrame([], out_schema)
    navail = {r[domain_col]: int(r.n)
              for r in docs.filter(F.col(domain_col).isin(alldoms))
              .groupBy(domain_col)
              .agg(F.count("*").cast("long").alias("n")).collect()}
    tot = sum(navail.values())
    rows = []
    for phase, ws, budget_permille in phases:
        doms = [d for d in sorted(ws) if navail.get(d)]
        if not doms:
            continue
        t_cap = min((navail[d] * weight_scale) // ws[d] for d in doms)
        t = min(t_cap, (tot * budget_permille) // 1000)
        for d in doms:
            k = min(navail[d], (ws[d] * t) // weight_scale)
            rows.append((phase, d, navail[d], ws[d], k))
    if not rows:
        return spark.createDataFrame([], out_schema)
    # broadcast hint only at the inner selection join (see
    # doremi_resample: on the audit's left-outer join tgt is the
    # preserved side, where the hint is unsupported)
    tgt = local_frame(
        spark,
        rows, (f"phase string, {domain_col} string, n_avail long, "
               "weight long, k_target long"))
    ranked = _domain_rank(docs, alldoms, domain_col=domain_col,
                          id_col=id_col)
    kept = (
        ranked.join(F.broadcast(tgt.select("phase", domain_col,
                                           "k_target")), domain_col)
        .filter(F.col("_rn") <= F.col("k_target"))
        .groupBy("phase", domain_col)
        .agg(F.count("*").cast("long").alias("n_kept"),
             F.sum(id_col).cast("long").alias("sum_kept_ids"))
    )
    return (
        tgt.join(kept, ["phase", domain_col], "left")
        .select(
            "phase", domain_col, "n_avail", "weight", "k_target",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("sum_kept_ids", F.lit(0)).cast("long")
            .alias("sum_kept_ids"),
        )
        .orderBy("phase", domain_col)
    )


def anneal_mix_oracle_sql(phases: list[tuple[str, dict[str, int], int]],
                          *, weight_scale: int = 1000,
                          domain_col: str = "lang",
                          table: str = "documents",
                          id_col: str = "doc_id") -> str:
    """DuckDB recomputation of :func:`anneal_mix`: the weight schedule
    as a VALUES table, waterline/budget arithmetic in SQL (not
    pre-resolved — the oracle re-derives T from the same counts), the
    shared per-domain (md5, id) rank, per-phase prefix selection."""
    if any(w <= 0 for _, ws, _ in phases for w in ws.values()):
        raise ValueError("anneal_mix weights must be positive; omit "
                         "the domain from the phase instead")
    vals = ", ".join(
        f"('{p}', '{d}', {w}, {bp})"
        for p, ws, bp in phases for d, w in sorted(ws.items())
    )
    alldoms = sorted({d for _, ws, _ in phases for d in ws})
    inlist = ", ".join(f"'{d}'" for d in alldoms)
    return f"""
WITH wts(phase, dom, w, budget_permille) AS (VALUES {vals}),
navail AS MATERIALIZED (
  SELECT {domain_col} AS dom, count(*)::BIGINT AS n_avail
  FROM {table} WHERE {domain_col} IN ({inlist}) GROUP BY {domain_col}
),
tot AS (SELECT sum(n_avail)::BIGINT AS t FROM navail),
tc AS MATERIALIZED (
  SELECT phase,
         least(min((n_avail::HUGEINT * {weight_scale}) // w),
               ((SELECT t FROM tot)::HUGEINT
                * any_value(budget_permille)) // 1000)::BIGINT AS t
  FROM wts JOIN navail USING (dom) GROUP BY phase
),
tgt AS MATERIALIZED (
  SELECT phase, dom, n_avail, w,
         least(n_avail,
               (w::HUGEINT * tc.t) // {weight_scale})::BIGINT AS k_target
  FROM wts JOIN navail USING (dom) JOIN tc USING (phase)
),
sel AS MATERIALIZED (
  SELECT {domain_col} AS dom, {id_col},
         row_number() OVER (PARTITION BY {domain_col}
                            ORDER BY md5({id_col}::VARCHAR), {id_col})
           AS rn
  FROM {table} WHERE {domain_col} IN ({inlist})
),
kept AS (
  SELECT g.phase, s.dom, count(*)::BIGINT AS n_kept,
         sum({id_col})::BIGINT AS sum_kept_ids
  FROM sel s JOIN tgt g USING (dom)
  WHERE s.rn <= g.k_target
  GROUP BY g.phase, s.dom
)
SELECT g.phase, g.dom AS {domain_col}, g.n_avail, g.w AS weight,
       g.k_target,
       coalesce(k.n_kept, 0)::BIGINT AS n_kept,
       coalesce(k.sum_kept_ids, 0)::BIGINT AS sum_kept_ids
FROM tgt g LEFT JOIN kept k ON g.phase = k.phase AND g.dom = k.dom
ORDER BY g.phase, g.dom
"""


def mkn_gate_oracle_sql(train_where: str, table: str = "documents",
                        id_col: str = "doc_id", buckets: int = 4096,
                        scale: int = 1000) -> str:
    """Oracle for the modified-KN keep rule (batch or streamed —
    streaming.stream_lm_gate's ``smoothing="mkn"`` survivor set is
    identical by per-doc independence): every scored doc with
    ``mkn_permille <= t2``, the exact middle/tail tertile cut —
    :func:`lm_gate_oracle_sql`'s shape over the mKN score chain."""
    inner = mkn_perplexity_oracle_sql(train_where, table, id_col,
                                      buckets, scale)
    return f"""
WITH scores AS MATERIALIZED (
{inner}
),
h AS (
  SELECT mkn_permille AS p, count(*)::BIGINT AS cnt
  FROM scores WHERE mkn_permille IS NOT NULL GROUP BY mkn_permille
),
cum AS (
  SELECT p, sum(cnt) OVER (ORDER BY p)::BIGINT AS c FROM h
),
cuts AS (
  SELECT min(CASE WHEN c >= greatest(1, CAST(ceil(2.0 * _n / 3.0)
                                             AS BIGINT)) THEN p END) AS t2
  FROM cum CROSS JOIN (SELECT max(c) AS _n FROM cum)
)
SELECT {id_col}, n_bigrams, sum_invp, mkn_permille
FROM scores CROSS JOIN cuts
WHERE mkn_permille <= t2 ORDER BY {id_col}
"""


def epoch_mix(docs: DataFrame, weights: dict[str, int], *,
              budget_permille: int, epochs_cap: int = 4,
              weight_scale: int = 1000,
              domain_col: str = "lang",
              id_col: str = "doc_id") -> DataFrame:
    """Data-constrained mixture WITH REPETITION — the epoch-capped
    upsampling recipe of Muennighoff et al. 2023 ("Scaling
    Data-Constrained Language Models": repeating data up to ~4 epochs
    costs little vs fresh data; beyond that returns decay; public
    method): where :func:`doremi_resample` and :func:`anneal_mix`
    never upsample (waterline-capped by the scarcest domain), this
    operator lets a scarce domain REPEAT up to ``epochs_cap`` full
    passes to honor its mixture weight.

    All integers: the requested output size is ``T = (sum_d n_d *
    budget_permille) div 1000``; per domain ``k_d = least(epochs_cap *
    n_d, (w_d * T) div weight_scale)`` — when the epoch cap binds, the
    realized total undershoots T and the audit SHOWS it (reported, not
    silently renormalized: re-spreading the shortfall would change
    other domains' epoch counts and hide the bind). The kept multiset
    is ``n_full = k_d div n_d`` full copies of the domain plus its
    deterministic (md5(id), id)-rank prefix of length ``k_d mod n_d``
    — the engine's q_n19/q_n24 sampling convention, so the partial
    epoch is reproducible and hash-provable.

    Output: one row per weighted domain —
    ``(domain, n_avail, weight, k_target, n_full_epochs, n_partial,
    sum_partial_ids)``; ``sum_partial_ids`` hash-proves the partial
    epoch's exact selection (full epochs are the whole domain — their
    membership needs no proof). NULL domains and domains absent from
    ``weights`` are not mixed (the doremi convention).

    Scale: one count aggregate (<= |domains| rows to the driver — the
    declared bounded-collect precedent), ONE corpus rank through
    :func:`~cassandra_ttl_remover_spark.plans.two_level_row_number`
    with ``partition_cols=[domain]``, one broadcast target join and a
    map-side audit agg; the corpus is never materialized k-fold — the
    audit row carries the multiplicity."""
    spark = docs.sparkSession
    out_schema = (f"{domain_col} string, n_avail long, weight long, "
                  "k_target long, n_full_epochs long, n_partial long, "
                  "sum_partial_ids long")
    doms = sorted(weights)
    if any(w <= 0 for w in weights.values()):
        raise ValueError("epoch_mix weights must be positive; omit "
                         "the domain instead")
    if not doms:
        return spark.createDataFrame([], out_schema)
    navail = {r[domain_col]: int(r.n)
              for r in docs.filter(F.col(domain_col).isin(doms))
              .groupBy(domain_col)
              .agg(F.count("*").cast("long").alias("n")).collect()}
    doms = [d for d in doms if navail.get(d)]
    if not doms:
        return spark.createDataFrame([], out_schema)
    tot = sum(navail[d] for d in doms)
    t = (tot * budget_permille) // 1000
    rows = []
    for d in doms:
        k = min(epochs_cap * navail[d],
                (weights[d] * t) // weight_scale)
        rows.append((d, navail[d], weights[d], k,
                     k // navail[d], k % navail[d]))
    # broadcast hint only at the inner selection join (see
    # doremi_resample)
    tgt = local_frame(
        spark,
        rows, (f"{domain_col} string, n_avail long, weight long, "
               "k_target long, n_full_epochs long, n_partial long"))
    ranked = _domain_rank(docs, doms, domain_col=domain_col,
                          id_col=id_col)
    part = (
        ranked.join(F.broadcast(tgt.select(domain_col, "n_partial")),
                    domain_col)
        .filter(F.col("_rn") <= F.col("n_partial"))
        .groupBy(domain_col)
        .agg(F.sum(id_col).cast("long").alias("sum_partial_ids"))
    )
    return (
        tgt.join(part, domain_col, "left")
        .select(
            domain_col, "n_avail", "weight", "k_target",
            "n_full_epochs", "n_partial",
            F.coalesce("sum_partial_ids", F.lit(0)).cast("long")
            .alias("sum_partial_ids"),
        )
        .orderBy(domain_col)
    )


def epoch_mix_oracle_sql(weights: dict[str, int], *,
                         budget_permille: int, epochs_cap: int = 4,
                         weight_scale: int = 1000,
                         domain_col: str = "lang",
                         table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """DuckDB recomputation of :func:`epoch_mix`: weights as VALUES,
    budget/cap arithmetic re-derived in SQL, the shared per-domain
    (md5, id) rank prefix for the partial epoch."""
    if any(w <= 0 for w in weights.values()):
        raise ValueError("epoch_mix weights must be positive; omit "
                         "the domain instead")
    vals = ", ".join(f"('{d}', {w})" for d, w in sorted(weights.items()))
    inlist = ", ".join(f"'{d}'" for d in sorted(weights))
    return f"""
WITH wts(dom, w) AS (VALUES {vals}),
navail AS MATERIALIZED (
  SELECT {domain_col} AS dom, count(*)::BIGINT AS n_avail
  FROM {table} WHERE {domain_col} IN ({inlist}) GROUP BY {domain_col}
),
tc AS (SELECT (sum(n_avail)::HUGEINT * {budget_permille}) // 1000 AS t
       FROM navail),
tgt AS MATERIALIZED (
  SELECT dom, n_avail, w,
         least({epochs_cap}::HUGEINT * n_avail,
               (w::HUGEINT * (SELECT t FROM tc))
                 // {weight_scale})::BIGINT AS k_target
  FROM wts JOIN navail USING (dom)
),
sel AS MATERIALIZED (
  SELECT {domain_col} AS dom, {id_col},
         row_number() OVER (PARTITION BY {domain_col}
                            ORDER BY md5({id_col}::VARCHAR), {id_col})
           AS rn
  FROM {table} WHERE {domain_col} IN ({inlist})
),
part AS (
  SELECT s.dom, sum({id_col})::BIGINT AS sum_partial_ids
  FROM sel s JOIN tgt g USING (dom)
  WHERE s.rn <= g.k_target % g.n_avail
  GROUP BY s.dom
)
SELECT g.dom AS {domain_col}, g.n_avail, g.w AS weight, g.k_target,
       (g.k_target // g.n_avail)::BIGINT AS n_full_epochs,
       (g.k_target % g.n_avail)::BIGINT AS n_partial,
       coalesce(p.sum_partial_ids, 0)::BIGINT AS sum_partial_ids
FROM tgt g LEFT JOIN part p ON g.dom = p.dom
ORDER BY g.dom
"""
