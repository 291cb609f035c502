"""Dedup operator family (north-star): exact, Jaccard, MinHash-LSH, SimHash,
embedding near-dup."""

import pyspark.sql.functions as F
import pytest

from cassandra_ttl_remover_spark.operators import dedup


@pytest.fixture(scope="module")
def near_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    edit = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different words having nothing in common with anything else"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, edit), (3, other)], "doc_id long, text string"
    )


def test_exact_dedup(near_docs):
    out = {r.content_hash: (r.keep_id, r.n_copies)
           for r in dedup.exact_dedup(near_docs).collect()}
    assert len(out) == 3  # 0 and 1 are identical
    assert (0, 2) in out.values()


def test_exact_dedup_last_writer(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "a", 30), (1, "b", 20)], "k long, g string, writetime long"
    )
    got = {(r.k, r.g): r.writetime
           for r in dedup.exact_dedup_last_writer(df, ["k", "g"]).collect()}
    assert got == {(1, "a"): 30, (1, "b"): 20}


def test_jaccard_pairs(near_docs):
    pairs = {(r.a, r.b): r.jaccard
             for r in dedup.ngram_jaccard_pairs(near_docs, threshold=0.3).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_containment_subsumption(spark):
    # doc 1 is doc 0's text quoted whole inside a longer page: Jaccard is
    # diluted below 0.5 but containment from the short side is 1.0
    short = "alpha beta gamma delta epsilon zeta eta theta"
    page = (
        short
        + " filler one two three four five six seven eight nine ten"
        + " eleven twelve thirteen fourteen fifteen sixteen seventeen"
    )
    docs = spark.createDataFrame(
        [(0, short), (1, page)], "doc_id long, text string"
    )
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # symmetric measure misses the subsumption
    rows = dedup.containment_pairs(docs, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b) == (0, 1)
    assert r.cont_a == 1.0  # every shingle of the short doc is in the page
    assert r.cont_b < 0.5


def test_containment_respects_max_df(spark):
    # the shared boilerplate shingle is df-capped away, so no pair survives
    docs = spark.createDataFrame(
        [(i, f"common boiler plate unique{i} word{i} tail{i}") for i in range(5)],
        "doc_id long, text string",
    )
    uncapped = dedup.containment_pairs(docs, threshold=0.2).collect()
    assert uncapped  # all pairs share 'common boiler plate'
    capped = dedup.containment_pairs(docs, threshold=0.2, max_df=3).collect()
    assert capped == []


def test_minhash_recall_on_fixture(documents):
    exact = {(r.a, r.b) for r in
             dedup.ngram_jaccard_pairs(documents, threshold=0.5).collect()}
    cand = {(r.a, r.b) for r in
            dedup.minhash_lsh_pairs(documents, num_hashes=64, bands=32,
                                    threshold=0.3).collect()}
    if exact:
        recall = len(exact & cand) / len(exact)
        assert recall >= 0.8, f"recall {recall} over {len(exact)} true pairs"


def test_simhash_identical_and_near(near_docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash(near_docs).collect()}
    assert sh[0] == sh[1]
    ham02 = bin(sh[0] ^ sh[2]).count("1")
    ham03 = bin(sh[0] ^ sh[3]).count("1")
    assert ham02 < ham03, "one-word edit must be closer than unrelated text"
    assert 0 <= sh[0] < (1 << 60)


def test_word_hashes_conv_equivalence(spark):
    """The conv(reverse(..)) word-hash (one md5 + one conv per word) must
    equal the original 15-step nibble aggregate — hex digit j carries
    weight 16^(j-1), i.e. the reversed prefix read base-16. Guards the
    r12 interpreted-lambda optimization in _WORD_HASHES_EXPR."""
    from cassandra_ttl_remover_spark.operators.dedup import _WORD_HASHES_EXPR

    ref = ("transform(transform(ws, w -> md5(w)), m -> "
           " aggregate(sequence(1, 15), 0L, (a, j) -> a + shiftleft("
           "  cast(instr('0123456789abcdef', substring(m, j, 1)) - 1 as bigint),"
           "  (j - 1) * 4)))")
    df = spark.range(20000).selectExpr(
        "array(cast(id as string), concat('w', cast(id as string)), '') as ws")
    bad = df.selectExpr(
        _WORD_HASHES_EXPR.format(ws="ws") + " as fast", ref + " as ref"
    ).filter("fast <> ref").count()
    assert bad == 0


def test_simhash_banded_equals_bruteforce(documents):
    banded = {(r.a, r.b, r.hamming) for r in
              dedup.simhash_neardup_pairs(documents, max_hamming=3, banded=True).collect()}
    brute = {(r.a, r.b, r.hamming) for r in
             dedup.simhash_neardup_pairs(documents, max_hamming=3, banded=False).collect()}
    assert banded == brute, "pigeonhole banding must find exactly the brute-force pairs"


@pytest.mark.slow  # seal-gate tier (heavy equality/e2e sweep)
def test_embedding_neardup_self_similarity(spark):
    v = [0.1] * 64
    w = [0.1] * 32 + [-0.1] * 32
    df = spark.createDataFrame([(0, v), (1, v), (2, w)],
                               "vec_id long, embedding array<float>")
    pairs = {(r.a, r.b) for r in
             dedup.embedding_neardup_pairs(df, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_connected_components_resolution(spark):
    # graph: {0-1-2} chain, {3-4}, 5 singleton — min-label propagation must
    # label each node with its component's minimum id
    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (0, 1), (3, 4)], "a long, b long")
    got = {(r.doc_id, r.component, r.is_kept)
           for r in dedup.neardup_dedup(ids, pairs).collect()}
    assert got == {(0, 0, True), (1, 0, False), (2, 0, False),
                   (3, 3, True), (4, 3, False), (5, 5, True)}


def test_jaccard_df_cap_drops_hot_shingles(spark):
    # boilerplate header shared by every doc; distinct tails. With the cap
    # the header shingles are stop-shingles, so no pair survives; uncapped,
    # the shared header makes every pair similar.
    header = "standard license header apache version two point zero applies here"
    docs = spark.createDataFrame(
        [(i, f"{header} unique tail number {i} content piece {i * 7}")
         for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.3).count()
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_df=3).count()
    assert uncapped > 0 and capped == 0

    # a cap above every shingle's df must be a no-op
    loose = {(r.a, r.b, r.jaccard) for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.3, max_df=1000).collect()}
    exact = {(r.a, r.b, r.jaccard) for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert loose == exact


def test_connected_components_nonconvergence_raises(spark):
    # a 5-node path graph has diameter 4: max_iter=2 cannot converge
    import pytest as _pytest

    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(4)], "a long, b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, ids, max_iter=2, driver_limit=0)


def test_connected_components_driver_and_distributed_agree(spark):
    # two components + singletons, resolved through both execution paths;
    # the labels' join key is reserved, so an id column named "node" (a
    # generic graph frame) stitches too
    pairs = spark.createDataFrame(
        [(1, 2), (0, 1), (3, 4), (4, 6)], "a long, b long"
    )
    for id_col in ("doc_id", "node"):
        ids = spark.createDataFrame([(i,) for i in range(8)], f"{id_col} long")
        driver = {tuple(r) for r in
                  dedup.connected_components(pairs, ids, id_col).collect()}
        dist = {tuple(r) for r in dedup.connected_components(
            pairs, ids, id_col, driver_limit=0).collect()}
        assert driver == dist == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3),
                                  (5, 5), (6, 3), (7, 7)}, id_col


def test_connected_components_string_ids_both_paths(spark):
    # the driver fast path must handle any orderable id type, same as the
    # distributed HashMin loop — behavior must not depend on edge count
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("d", "e")], "a string, b string"
    )
    expect = {("a", "a"), ("b", "a"), ("c", "a"),
              ("d", "d"), ("e", "d"), ("f", "f")}
    for id_col in ("doc_id", "node"):
        ids = spark.createDataFrame(
            [(s,) for s in "abcdef"], f"{id_col} string"
        )
        driver = {tuple(r) for r in
                  dedup.connected_components(pairs, ids, id_col).collect()}
        dist = {tuple(r) for r in dedup.connected_components(
            pairs, ids, id_col, driver_limit=0).collect()}
        assert driver == dist == expect, id_col


def test_connected_components_driver_limit_is_inclusive(spark, monkeypatch):
    # the one bounded collect decides the path: exactly driver_limit edges
    # resolve on the driver, one more runs the distributed loop, and both
    # give the labels the forced distributed path gives
    driver_calls = []
    union_find = dedup._driver_union_find
    monkeypatch.setattr(dedup, "_driver_union_find",
                        lambda e: driver_calls.append(len(e)) or union_find(e))
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    for n_edges, path in ((4, [4]), (5, [])):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "a long, b long")
        driver_calls.clear()
        got = {tuple(r) for r in dedup.connected_components(
            pairs, ids, driver_limit=4).collect()}
        assert driver_calls == path
        forced = {tuple(r) for r in dedup.connected_components(
            pairs, ids, driver_limit=0).collect()}
        assert got == forced == {
            (i, 0 if i <= n_edges else i) for i in range(10)}


def test_component_labels_both_paths_agree(spark):
    # labels cover edge-incident ids only; the driver union-find and
    # HashMin give the same rows, for long and string ids and for an
    # empty graph (which labels nothing, so every id stitches to itself)
    cases = [
        ("long", [(1, 2), (0, 1), (3, 4), (4, 6)],
         {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (6, 3)}),
        ("string", [("b", "c"), ("a", "b"), ("d", "e")],
         {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")}),
        ("long", [], set()),
        ("string", [], set()),
    ]
    for typ, edges, want in cases:
        pairs = spark.createDataFrame(edges, f"a {typ}, b {typ}")
        vals = range(8) if typ == "long" else "abcdefgh"
        ids = spark.createDataFrame([(v,) for v in vals], f"doc_id {typ}")
        for limit in (100, 0):
            labels = dedup.component_labels(pairs, driver_limit=limit)
            assert labels.columns == ["_cc_node", "component"]
            assert {tuple(r) for r in labels.collect()} == want, (
                typ, edges, limit)
            cc = dedup.connected_components(pairs, ids, driver_limit=limit)
            assert {tuple(r) for r in cc.collect()} == {
                (v, dict(want).get(v, v)) for v in vals}, (typ, edges, limit)


def test_repeated_ngram_census_hand_case(spark):
    # doc 1 and 2 share one verbatim 8-token run; doc 3 is unique
    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [
            (1, f"x {run} y"),       # 10 tokens -> 3 windows, 1 duplicated
            (2, f"{run} z"),         # 9 tokens -> 2 windows, 1 duplicated
            (3, "p q r s t u v w"),  # 8 unique tokens -> 1 window, 0 dup
            (4, "too short"),        # < 8 tokens -> 0 windows
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_windows, r.n_dup, r.dup_ratio)
           for r in dedup.repeated_ngram_census(docs, n=8).collect()}
    assert out[1] == (3, 1, 1 / 3)
    assert out[2] == (2, 1, 0.5)
    assert out[3] == (1, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_repeated_ngram_spans_positions(spark):
    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"x {run}"), (2, f"{run} z")], "doc_id long, text string"
    )
    spans = {(r.doc_id, r.pos)
             for r in dedup.repeated_ngram_spans(docs, n=8).collect()}
    # the shared run starts at token 2 in doc 1 and token 1 in doc 2
    assert spans == {(1, 2), (2, 1)}


def test_cluster_representatives_keeps_longest(spark):
    from cassandra_ttl_remover_spark.operators.dedup import (
        cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(1, "short"), (2, "the longest document"), (3, "medium doc"),
         (4, "isolated"), (5, "also-longest-tie"), (6, "also-longest-tie")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    )
    got = {r.doc_id: r for r in
           cluster_representatives(docs, pairs).collect()}
    # cluster {1,2,3}: 2 is longest -> kept; min-id rule would keep 1
    assert got[2].is_kept and not got[1].is_kept and not got[3].is_kept
    assert got[4].is_kept                       # singleton keeps itself
    # tie on score: min id wins
    assert got[5].is_kept and not got[6].is_kept


def test_prefix_filter_join_equals_bruteforce(spark, documents):
    """Lossless-candidate theorem: the prefix-filtered join must equal
    the brute-force all-pairs join exactly (same pairs, same integers)."""
    docs = documents.limit(120)
    got = {(r.id_a, r.id_b): (r.inter, r.size_a, r.size_b)
           for r in dedup.prefix_filter_join(docs, threshold=(3, 5)).collect()}
    base = (
        docs.select(F.col("doc_id").alias("_id"),
                    F.expr("array_distinct(filter(split(text, ' '),"
                           " w -> w <> ''))").alias("toks"))
        .filter(F.size("toks") > 0)
    )
    brute = (
        base.alias("a").crossJoin(base.alias("b"))
        .filter(F.expr("a._id < b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.expr("cast(size(array_intersect(a.toks, b.toks)) as bigint)"
                       ).alias("inter"),
                F.expr("cast(size(a.toks) as bigint)").alias("sa"),
                F.expr("cast(size(b.toks) as bigint)").alias("sb"))
        .filter(F.expr("5 * inter >= 3 * (sa + sb - inter)"))
    )
    want = {(r.id_a, r.id_b): (r.inter, r.sa, r.sb) for r in brute.collect()}
    assert got == want and len(got) > 0


def test_prefix_filter_join_excludes_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "   "), (4, "")],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in
           dedup.prefix_filter_join(df, threshold=(1, 2)).collect()}
    assert got == {(1, 2)}


def test_remove_duplicate_spans_canonical_keeps_all(spark):
    """Min-id doc keeps its duplicated runs; the copy loses exactly the
    covered tokens; unrelated docs are untouched."""
    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, boiler + " tail1 tail2"),
         (2, "head1 head2 " + boiler),
         (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_removed)
           for r in dedup.remove_duplicate_spans(df, n=8, min_docs=2).collect()}
    assert out[1] == (10, 0)      # canonical: untouched
    assert out[2] == (10, 8)      # copy: the 8 boilerplate tokens removed
    assert out[3] == (9, 0)       # unique doc: untouched


def test_remove_duplicate_spans_cleaned_hash_matches_manual(spark):
    import hashlib

    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, boiler), (2, "x1 x2 " + boiler + " x3")],
        "doc_id long, text string")
    rows = {r.doc_id: r.cleaned_hash
            for r in dedup.remove_duplicate_spans(df, n=8, min_docs=2).collect()}
    assert rows[2] == hashlib.md5(b"x1 x2 x3").hexdigest()
    assert rows[1] == hashlib.md5(boiler.encode()).hexdigest()


def test_line_dedup_keep_first_and_substance_threshold(spark):
    """C4 rule on block-lines: the globally-first occurrence (min
    (doc_id, pos)) of a duplicated line survives everywhere — including
    WITHIN one doc — while lines under min_words never participate."""
    import hashlib

    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, boiler + " " + boiler),            # in-doc repeat: 2nd block drops
         (2, "h1 h2 h3 h4 h5 h6 h7 h8 " + boiler),  # cross-doc: drops
         (3, "u1 u2"),                          # 2-word line: below min_words
         (4, "u1 u2")],                         # ...so its twin never dedups
        "doc_id long, text string")
    out = {r.doc_id: (r.n_lines, r.n_removed, r.cleaned_hash)
           for r in dedup.line_dedup(df).collect()}
    assert out[1][:2] == (2, 1)
    assert out[2][:2] == (2, 1)
    assert out[3][:2] == (1, 0) and out[4][:2] == (1, 0)
    assert out[1][2] == hashlib.md5(boiler.encode()).hexdigest()
    assert out[2][2] == hashlib.md5(b"h1 h2 h3 h4 h5 h6 h7 h8").hexdigest()


def test_line_dedup_delim_mode_matches_oracle(spark, tmp_path):
    """Real newline corpora: split on the delimiter, trim, drop empties
    — and the delim-mode oracle agrees hash-for-hash."""
    import duckdb

    from tests.oracle_parity import compare

    rows = [
        (1, "the cookie banner text here\nreal content alpha beta gamma"),
        (2, "the cookie banner text here\nother content delta eps zeta"),
        (3, "  the cookie banner text here  \nunique tail words only"),
        (4, "short\nalso short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')")
    out = {r.doc_id: (r.n_lines, r.n_removed)
           for r in dedup.line_dedup(df, delim="\n").collect()}
    # doc 1 owns the banner; docs 2 and 3 (trimmed-equal) lose it;
    # doc 4's short lines never participate
    assert out[1] == (2, 0)
    assert out[2] == (2, 1)
    assert out[3] == (2, 1)
    assert out[4] == (2, 0)
    ok, msg = compare(dedup.line_dedup(df, delim="\n"),
                      dedup.line_dedup_oracle_sql(delim="\n"), con)
    assert ok, msg


def test_line_dedup_oracle_parity_fixture(spark, documents):
    import duckdb

    from tests.conftest import SF_DIR
    from tests.oracle_parity import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    ok, msg = compare(dedup.line_dedup(documents),
                      dedup.line_dedup_oracle_sql(), con)
    assert ok, msg


def test_line_dedup_report_aggregates_per_domain(spark):
    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, boiler, "clean"),
         (2, boiler, "spammy"),
         (3, boiler + " " + boiler, "spammy")],
        "doc_id long, text string, source string")
    out = {r.domain: r for r in
           dedup.line_dedup_report(df, domain_col="source").collect()}
    # doc 1 owns the boilerplate; spammy's three other occurrences drop
    assert (out["clean"].n_lines, out["clean"].n_removed) == (1, 0)
    assert (out["spammy"].n_lines, out["spammy"].n_removed) == (3, 3)
    assert out["spammy"].removed_permille == 1000
    assert out["clean"].removed_permille == 0


def test_line_dedup_report_oracle_parity_fixture(spark, documents):
    import duckdb

    from tests.conftest import SF_DIR
    from tests.oracle_parity import compare

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    ok, msg = compare(
        dedup.line_dedup_report(documents, domain_col="source"),
        dedup.line_dedup_report_oracle_sql(domain_col="source"), con)
    assert ok, msg


def test_line_dedup_null_text_and_literal_delims(spark, tmp_path):
    """Review-found asymmetries: NULL text must read as '' on BOTH
    engines (0 lines, md5('') hash), and the delimiter is LITERAL —
    regex metachars like '.' and '|' must split only at the delimiter
    (Spark split() is a Java regex under the hood) and quote-bearing
    delimiters must not break the oracle's SQL literal."""
    import hashlib

    import duckdb

    from tests.oracle_parity import compare

    rows = [
        (1, None),
        (2, "one two three four.five six seven eight.short"),
        (3, "one two three four.nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.line_dedup(df, delim=".").collect()}
    assert (out[1].n_lines, out[1].n_removed) == (0, 0)
    assert out[1].cleaned_hash == hashlib.md5(b"").hexdigest()
    # '.' split literally: doc 2 has 3 lines, doc 3 has 2, and the
    # shared first line dedups to doc 2 (min id)
    assert (out[2].n_lines, out[2].n_removed) == (3, 0)
    assert (out[3].n_lines, out[3].n_removed) == (2, 1)
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{p}/*.parquet')")
    for delim in (".", "|", "'", "("):
        d2 = df.withColumn("text", F.regexp_replace(
            F.coalesce("text", F.lit("")), "\\.", delim.replace("\\", "\\\\")))
        p2 = str(tmp_path / "d2.parquet")
        d2.coalesce(1).write.mode("overwrite").parquet(p2)
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{p2}/*.parquet')")
        ok, msg = compare(dedup.line_dedup(d2, delim=delim),
                          dedup.line_dedup_oracle_sql(delim=delim), con)
        assert ok, f"delim {delim!r}: {msg}"


def test_line_dedup_report_null_domain_label(spark, tmp_path):
    import duckdb

    from tests.oracle_parity import compare

    boiler = " ".join(f"b{i}" for i in range(8))
    df = spark.createDataFrame(
        [(1, boiler, "s1"), (2, boiler, None), (3, boiler, None)],
        "doc_id long, text string, source string")
    out = {r.domain: r for r in
           dedup.line_dedup_report(df, domain_col="source").collect()}
    assert set(out) == {"s1", "<null>"}
    assert out["<null>"].n_removed == 2
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{p}/*.parquet')")
    ok, msg = compare(dedup.line_dedup_report(df, domain_col="source"),
                      dedup.line_dedup_report_oracle_sql(
                          domain_col="source"), con)
    assert ok, msg


def test_pair_expand_matches_lambda_reference(spark):
    # r12: the i<j pair expansion runs as two chained codegen Generates
    # (posexplode + explode(slice)) — pin it row-identical against the
    # retained interpreted nested-lambda form for BOTH member shapes
    # (plain ids and (id, payload) structs), including the empty and
    # single-member edge rows the filter normally removes.
    from cassandra_ttl_remover_spark.operators.dedup import (
        _BUCKET_PAIRS_EXPR, _ID_PAIRS_EXPR, _pair_expand)

    ids = spark.createDataFrame(
        [([1, 2, 3, 4],), ([7, 9],), ([5],), ([],)], "m array<bigint>")
    ref = ids.select(F.explode(F.expr(_ID_PAIRS_EXPR)).alias("p")) \
        .select("p.a", "p.b")
    new = _pair_expand(ids).select(
        F.col("_x").alias("a"), F.col("_y").alias("b"))
    assert sorted(map(tuple, ref.collect())) == \
        sorted(map(tuple, new.collect()))

    structs = spark.createDataFrame(
        [([(1, 11), (2, 22), (3, 33)],), ([(4, 44)],)],
        "m array<struct<i: bigint, s: bigint>>")
    ref_s = structs.select(
        F.explode(F.expr(_BUCKET_PAIRS_EXPR)).alias("p")).select(
        "p.a", "p.b", "p.siga", "p.sigb")
    new_s = _pair_expand(structs).select(
        F.col("_x.i").alias("a"), F.col("_y.i").alias("b"),
        F.col("_x.s").alias("siga"), F.col("_y.s").alias("sigb"))
    assert sorted(map(tuple, ref_s.collect())) == \
        sorted(map(tuple, new_s.collect()))
