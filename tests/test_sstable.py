"""Simple-cell SSTable source: binary write -> parallel scan roundtrip,
split planning, decode-subset enforcement, and the TTL-strip transform on
the native format (the reference's core e2e —
cassandra-2/.../NoTTLColumnSerializer.java:24-51 decode dispatch)."""

import itertools
import os
import shutil
import struct
import tempfile
import uuid

import pytest

from cassandra_ttl_remover_spark.sources import sstable as ss


def _tmpdir():
    return os.path.join(tempfile.gettempdir(), f"sst_{uuid.uuid4().hex[:8]}")


def _mixed_partitions():
    return [
        (b"u2", [
            (b"c1", ss.EXPIRATION_MASK, 600, 1_700_000_600, 1_700_000_000_000_000, b"v1"),
            (b"c2", 0, 0, 0, 1_700_000_000_000_001, b"v2"),
        ]),
        (b"u1", [
            (b"c1", ss.DELETION_MASK, 0, 0, 1_700_000_000_000_002,
             struct.pack(">i", 1_700_000_000)),
        ]),
        (b"u3", []),
    ]


def test_write_scan_roundtrip_all_kinds(spark):
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    rows = sorted(
        tuple(r) for r in ss.scan_sstable(spark, out, num_splits=4).collect()
    )
    assert rows == [
        ("u1", "c1", "tombstone", None, 1_700_000_000, 1_700_000_000_000_002, None),
        ("u2", "c1", "expiring", 600, 1_700_000_600, 1_700_000_000_000_000, "v1"),
        ("u2", "c2", "normal", None, None, 1_700_000_000_000_001, "v2"),
    ]
    shutil.rmtree(out)


def test_writer_sorts_partitions_by_key_bytes():
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    keys = [k for k, _ in ss.read_index(os.path.join(out, "Index.db"))]
    assert keys == sorted(keys) == [b"u1", b"u2", b"u3"]
    shutil.rmtree(out)


def test_splits_snap_to_partition_starts_and_cover_all(spark):
    """Every split boundary is a real partition offset from the index, so
    no decode ever starts mid-record; rows are produced exactly once for
    any split count (1, equal to, and far above the partition count)."""
    out = _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, str(i).encode())]) for i in range(37)]
    ss.write_sstable(parts, out)
    want = sorted((f"k{i:04d}", str(i)) for i in range(37))
    for n in (1, 5, 37, 200):
        got = sorted(
            (r.pk, r.value)
            for r in ss.scan_sstable(spark, out, num_splits=n).collect()
        )
        assert got == want, n
    shutil.rmtree(out)


def test_unsupported_mask_and_partition_deletion_fail_loud(spark):
    out = _tmpdir()
    ss.write_sstable(
        [(b"k", [(b"c", 0x40, 0, 0, 1, b"v")])], out  # unknown mask bit
    )
    with pytest.raises(Exception, match="not a recognized"):
        list(ss.scan_data_range(os.path.join(out, "Data.db"), 0, 10**9))
    shutil.rmtree(out)


def test_empty_table_scans_to_zero_rows(spark):
    out = _tmpdir()
    ss.write_sstable([], out)
    assert ss.scan_sstable(spark, out).count() == 0
    shutil.rmtree(out)


def test_register_sstable_source_is_unconditional(spark):
    """Registration must not be memoized on id(spark): a reused CPython id
    from a garbage-collected session would silently skip registration.
    Re-registering on every call is idempotent — repeated registration
    plus a scan must behave identically to a single registration."""
    ss.register_sstable_source(spark)
    ss.register_sstable_source(spark)
    out = _tmpdir()
    ss.write_sstable([], out)
    assert ss.scan_sstable(spark, out).count() == 0
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    shutil.rmtree(out)


def test_strip_ttl_cells_is_the_reference_transform(spark):
    """Expiring -> normal with ttl/expiration dropped; writetime, value,
    tombstones, and normal cells byte-identical — the exact contract of
    the reference's rewrite loop."""
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    cells = ss.scan_sstable(spark, out, num_splits=2)
    stripped = sorted(tuple(r) for r in ss.strip_ttl_cells(cells).collect())
    assert stripped == [
        ("u1", "c1", "tombstone", None, 1_700_000_000, 1_700_000_000_000_002, None),
        ("u2", "c1", "normal", None, None, 1_700_000_000_000_000, "v1"),
        ("u2", "c2", "normal", None, None, 1_700_000_000_000_001, "v2"),
    ]
    # and no expiring cell survives anywhere
    assert ss.strip_ttl_cells(cells).filter("kind = 'expiring'").count() == 0
    shutil.rmtree(out)


def test_key_range_pushdown_prunes_bytes_and_matches_filter(spark):
    """The planner's key-range pruning (select_index_range) reads ONLY the
    selected partitions' byte run: split byte extents cover the exact
    [start-of-first-match, start-of-first-beyond) window, and results
    equal the full scan filtered post-hoc — for interior, prefix-shaped,
    open-ended, and empty ranges."""
    out = _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, str(i).encode())]) for i in range(37)]
    ss.write_sstable(parts, out)
    entries = ss.read_index(os.path.join(out, "Index.db"))
    size = os.path.getsize(os.path.join(out, "Data.db"))
    full = sorted((r.pk, r.value)
                  for r in ss.scan_sstable(spark, out).collect())
    for ks, kp in (("k0010", "k0020"), ("k000", "k001"),
                   ("k0030", None), (None, "k0005"), ("zz", None)):
        got = sorted(
            (r.pk, r.value)
            for r in ss.scan_sstable(spark, out, num_splits=4,
                                     key_start=ks, key_stop=kp).collect()
        )
        want = [(pk, v) for pk, v in full
                if (ks is None or pk >= ks) and (kp is None or pk < kp)]
        assert got == want, (ks, kp)
        lo, bs, be = ss.select_index_range(
            entries, size,
            ks.encode() if ks else None, kp.encode() if kp else None)
        # the byte window is exactly the matched run — pruning is real
        assert be - bs <= size
        if want:
            assert entries[lo][0].decode() == want[0][0]
    shutil.rmtree(out)


def test_point_lookup_decodes_one_partition(spark):
    """lookup_partition = index binary search + one seek: exactly the hit
    partition's cells, one split, and a miss is zero rows (not an
    error) — the reference scanner's per-partition access path."""
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    got = sorted(tuple(r)
                 for r in ss.lookup_partition(spark, out, "u2").collect())
    assert [r[:3] for r in got] == [("u2", "c1", "expiring"),
                                    ("u2", "c2", "normal")]
    assert ss.lookup_partition(spark, out, "nope").count() == 0
    # prefix of a real key must not match ("u" is not "u1")
    assert ss.lookup_partition(spark, out, "u").count() == 0
    shutil.rmtree(out)


def test_catalyst_filter_pushdown_prunes_and_matches(spark):
    """df.filter on pk reaches the source as Catalyst pushdown: every
    comparison shape (=, >, >=, <, <=, LIKE-prefix, AND-combined, miss)
    returns exactly the post-hoc-filtered rows while the READER's planned
    splits shrink to the matching byte run; non-pk filters are yielded
    back to Spark."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        StringContains,
        StringStartsWith,
    )

    out = _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, str(i).encode())]) for i in range(37)]
    ss.write_sstable(parts, out)
    df = ss.scan_sstable(spark, out)
    full = sorted(r.pk for r in df.collect())
    for pred, keep in [
        ("pk = 'k0007'", lambda k: k == "k0007"),
        ("pk > 'k0034'", lambda k: k > "k0034"),
        ("pk <= 'k0002'", lambda k: k <= "k0002"),
        ("pk >= 'k0010' AND pk < 'k0013'",
         lambda k: "k0010" <= k < "k0013"),
        ("pk LIKE 'k000%'", lambda k: k.startswith("k000")),
        ("pk = 'k0007' AND value = '8'", lambda k: False),
        ("pk = 'nope'", lambda k: False),
    ]:
        got = sorted(r.pk for r in df.filter(pred).collect())
        assert got == [k for k in full if keep(k)], pred

    # reader-level proof that pushdown PRUNES BYTES, not just rows
    def planned_bytes(filters):
        cls = ss._make_datasource_cls()
        reader = cls({"path": out}).reader(None)
        leftover = list(reader.pushFilters(filters))
        splits = reader.partitions()
        return leftover, sum(s.end - s.start for s in splits)

    _, all_bytes = planned_bytes([])
    lo, one = planned_bytes([EqualTo(("pk",), "k0007")])
    assert lo == [] and 0 < one < all_bytes / 10
    lo, pref = planned_bytes([StringStartsWith(("pk",), "k000")])
    assert lo == [] and one < pref < all_bytes / 2
    # unsupported: non-pk attribute and contains both stay with Spark
    lo, b = planned_bytes([EqualTo(("value",), "7"),
                           StringContains(("pk",), "007")])
    assert len(lo) == 2 and b == all_bytes
    # filters intersect with explicit key-range options
    cls = ss._make_datasource_cls()
    reader = cls({"path": out, "key_start": "k0005",
                  "key_stop": "k0030"}).reader(None)
    list(reader.pushFilters([GreaterThanOrEqual(("pk",), "k0020")]))
    assert reader.key_start == b"k0020" and reader.key_stop == b"k0030"
    shutil.rmtree(out)


def test_distributed_write_scan_roundtrip(spark):
    """The reference job's full e2e on the native format: scan -> strip ->
    DISTRIBUTED sharded write -> rescan. Every cell byte-roundtrips, each
    shard is a sorted sstable with non-overlapping key ranges, and the
    multi-shard scan prunes by key across shards."""
    src, dst = _tmpdir(), _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"a", ss.EXPIRATION_MASK, 60, 1_700_000_060,
                1_000 + i, str(i).encode()),
               (b"b", 0, 0, 0, 2_000 + i, f"x{i}".encode())])
             for i in range(23)]
    ss.write_sstable(parts, src)
    stripped = ss.strip_ttl_cells(ss.scan_sstable(spark, src))
    report = ss.write_sstable_distributed(stripped, dst, shards=4)
    assert sum(r.n_cells for r in report) == 46
    assert 1 < len(report) <= 4
    # shard key ranges must not overlap (global sorted-run invariant)
    ranges = []
    for r in sorted(rr.shard for rr in report):
        keys = [k for k, _ in
                ss.read_index(os.path.join(dst, r, "Index.db"))]
        assert keys == sorted(keys)
        ranges.append((keys[0], keys[-1]))
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    back = sorted(tuple(r)
                  for r in ss.scan_sstable(spark, dst).collect())
    want = sorted(tuple(r) for r in stripped.collect())
    assert back == want
    # key pruning works across the shard directory too
    one = ss.lookup_partition(spark, dst, "k0011").collect()
    assert sorted(r.cell for r in one) == ["a", "b"]
    shutil.rmtree(src), shutil.rmtree(dst)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _key = st.text(
        alphabet=st.characters(codec="utf-8",
                               blacklist_categories=("Cs",)),
        min_size=1, max_size=12,
    ).map(lambda s: s.encode("utf-8"))
    _name = st.text(min_size=1, max_size=8).map(lambda s: s.encode("utf-8"))
    _wt = st.integers(min_value=0, max_value=2**62)
    _cell = st.one_of(
        st.tuples(_name, st.just(0), st.just(0), st.just(0), _wt,
                  st.text(max_size=16).map(lambda s: s.encode("utf-8"))),
        st.tuples(_name, st.just(ss.EXPIRATION_MASK),
                  st.integers(1, 2**31 - 1), st.integers(0, 2**31 - 1),
                  _wt, st.text(max_size=16).map(lambda s: s.encode("utf-8"))),
        st.tuples(_name, st.just(ss.DELETION_MASK), st.just(0), st.just(0),
                  _wt, st.integers(0, 2**31 - 1).map(
                      lambda v: struct.pack(">i", v))),
    )
    _table = st.dictionaries(_key, st.lists(_cell, max_size=4), max_size=12)

    @given(table=_table, cut=st.tuples(_key, _key))
    @settings(max_examples=60, deadline=None)
    def test_property_binary_roundtrip_and_pruning(table, cut):
        """For ARBITRARY utf-8 keys/names/values (not just the ascii
        fixtures): write -> full decode recovers every cell with exact
        field fidelity, and index pruning for an arbitrary key range
        equals the post-hoc byte-range filter. Pure-Python (no Spark) so
        hypothesis can drive many cases."""
        parts = list(table.items())
        out = _tmpdir()
        try:
            ss.write_sstable(parts, out)
            data = os.path.join(out, "Data.db")
            got = list(ss.scan_data_range(data, 0, os.path.getsize(data)))
            want = []
            for k, cells in parts:
                pk = k.decode("utf-8")
                for n, m, t, e, w, v in cells:
                    if m == ss.EXPIRATION_MASK:
                        want.append((pk, n.decode(), "expiring", t, e, w,
                                     v.decode()))
                    elif m == ss.DELETION_MASK:
                        want.append((pk, n.decode(), "tombstone", None,
                                     struct.unpack(">i", v)[0], w, None))
                    else:
                        want.append((pk, n.decode(), "normal", None, None,
                                     w, v.decode()))
            assert sorted(got, key=repr) == sorted(want, key=repr)

            lo, hi = min(cut), max(cut)
            entries = ss.read_index(os.path.join(out, "Index.db"))
            _, bs, be = ss.select_index_range(
                entries, os.path.getsize(data), lo, hi)
            pruned = (list(ss.scan_data_range(data, bs, be))
                      if bs < be else [])
            want_rng = [r for r in got
                        if lo <= r[0].encode("utf-8") < hi]
            assert sorted(pruned, key=repr) == sorted(want_rng, key=repr)
        finally:
            shutil.rmtree(out, ignore_errors=True)
except ImportError:  # pragma: no cover - hypothesis always present in CI
    pass


def test_stream_source_drains_and_batches_per_shard_arrival(spark):
    """The streaming source: an availableNow drain equals the batch scan,
    and the offset protocol batches exactly the newly-arrived shards —
    consumed shards never replan, an unchanged directory plans nothing,
    and a shard added later shows up alone in the next delta."""
    from cassandra_ttl_remover_spark.streaming.ttl_stream import (
        drain_to_table,
    )

    out = _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, str(i).encode())]) for i in range(20)]
    ss.write_sstable(parts[:10], os.path.join(out, "shard=00000"))
    ss.write_sstable(parts[10:], os.path.join(out, "shard=00001"))
    got = drain_to_table(
        ss.stream_sstable(spark, out),
        f"sst_stream_{uuid.uuid4().hex[:6]}",
    )
    want = sorted(tuple(r) for r in ss.scan_sstable(spark, out).collect())
    assert sorted(tuple(r) for r in got.collect()) == want

    cls = ss._make_datasource_cls()
    rd = cls({"path": out}).streamReader(None)
    s0, s1 = rd.initialOffset(), rd.latestOffset()
    assert s0 == {"shards": []} and len(s1["shards"]) == 2
    assert len(rd.partitions(s1, s1)) == 0
    first = rd.partitions(s0, s1)
    ss.write_sstable(parts[:3], os.path.join(out, "shard=00002"))
    s2 = rd.latestOffset()
    assert set(s2["shards"]) - set(s1["shards"]) == {"shard=00002"}
    delta = rd.partitions(s1, s2)
    assert delta and all("shard=00002" in p.data_path for p in delta)
    assert len(rd.partitions(s0, s2)) > len(first)
    shutil.rmtree(out)


def test_events_fixture_scan_matches_duckdb_oracle(spark):
    """Miniature of the driver gate: generate the fixture at sf0.001,
    scan the binary, and value-match the SQL recomputation."""
    import duckdb

    from tests.conftest import SF_DIR

    out = _tmpdir()
    ss.events_sstable_fixture(spark, SF_DIR, out)
    got = sorted(
        tuple(r) for r in ss.scan_sstable(spark, out, num_splits=8).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    )
    want = sorted(tuple(r) for r in
                  con.execute(ss.sstable_scan_oracle_sql()).fetchall())
    assert got == want and len(got) == 3000
    shutil.rmtree(out)


def test_truncated_data_file_fails_loud(spark):
    """A Data.db cut mid-record raises CorruptSSTableError naming the
    file, offset, and field — quarantine semantics (the reference's
    markSuspect analog on the binary path), never partial partitions."""
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    data = os.path.join(out, "Data.db")
    full = open(data, "rb").read()
    # cut inside u2's first cell body (u1 record decodes fine first)
    open(data, "wb").write(full[:len(full) - 7])
    with pytest.raises(ss.CorruptSSTableError, match="truncated"):
        list(ss.scan_data_range(data, 0, len(full)))
    shutil.rmtree(out)


def test_stream_source_applies_key_range_per_shard(spark):
    """The streaming reader prunes each new shard by the same key range
    as the batch planner."""
    out = _tmpdir()
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, str(i).encode())]) for i in range(20)]
    ss.write_sstable(parts[:10], os.path.join(out, "shard=00000"))
    ss.write_sstable(parts[10:], os.path.join(out, "shard=00001"))
    cls = ss._make_datasource_cls()
    rd = cls({"path": out, "key_start": "k0008",
              "key_stop": "k0012"}).streamReader(None)
    splits = rd.partitions(rd.initialOffset(), rd.latestOffset())
    rows = sorted(r for s in splits
                  for r in ss.scan_data_range(s.data_path, s.start, s.end))
    assert [r[0] for r in rows] == ["k0008", "k0009", "k0010", "k0011"]
    shutil.rmtree(out)


def _atom_partitions():
    """Partitions exercising EVERY atom kind the reference decodes:
    counter (NoTTLColumnSerializer.java:26-32), counter-update (:47-49),
    range tombstone (NoTTLSerializer.java:31-33), plus the v1 kinds."""
    return [
        (b"u1", [
            (b"c0", ss.EXPIRATION_MASK, 600, 1_700_000_600,
             1_700_000_000_000_000, b"exp"),
            (b"c1", ss.COUNTER_MASK, 0, 1_699_999_999_000_000,
             1_700_000_000_000_001, b"42"),
            (b"c2", ss.COUNTER_UPDATE_MASK, 0, 0,
             1_700_000_000_000_002, b"7"),
            (b"c3", ss.RANGE_TOMBSTONE_MASK, 0, 1_700_000_000,
             1_700_000_000_000_003, b"c9"),
            (b"c4", 0, 0, 0, 1_700_000_000_000_004, b"norm"),
        ]),
    ]


def test_counter_and_rt_atoms_roundtrip_and_strip_verbatim(spark):
    """Counter / counter-update / range-tombstone atoms decode, pass
    through strip_ttl_cells BYTE-VERBATIM (counters can't have TTLs —
    the reference preserves them untouched), and survive the distributed
    write -> rescan loop; only the expiring cell is rewritten."""
    src, dst = _tmpdir(), _tmpdir()
    ss.write_sstable(_atom_partitions(), src)
    scanned = ss.scan_sstable(spark, src, num_splits=2)
    rows = sorted(tuple(r) for r in scanned.collect())
    assert rows == [
        ("u1", "c0", "expiring", 600, 1_700_000_600,
         1_700_000_000_000_000, "exp"),
        ("u1", "c1", "counter", None, 1_699_999_999_000_000,
         1_700_000_000_000_001, "42"),
        ("u1", "c2", "counter_update", None, None,
         1_700_000_000_000_002, "7"),
        ("u1", "c3", "range_tombstone", None, 1_700_000_000,
         1_700_000_000_000_003, "c9"),
        ("u1", "c4", "normal", None, None, 1_700_000_000_000_004, "norm"),
    ]
    stripped = ss.strip_ttl_cells(scanned)
    got = sorted(tuple(r) for r in stripped.collect())
    # the expiring cell is rewritten; every other atom is identical
    assert got[0] == ("u1", "c0", "normal", None, None,
                      1_700_000_000_000_000, "exp")
    assert got[1:] == rows[1:]
    # distributed sink -> rescan: byte-fidelity for the new atom kinds
    ss.write_sstable_distributed(stripped, dst, shards=2)
    again = sorted(tuple(r)
                   for r in ss.scan_sstable(spark, dst, num_splits=2).collect())
    assert again == got
    shutil.rmtree(src)
    shutil.rmtree(dst)


def test_generation_mc_scan_prune_and_distributed_roundtrip(spark):
    """Generation dispatch (reference SPI analog): the SAME DataSource
    scans both framings to identical rows; index pruning and the
    distributed sink work on the vint generation; Version.txt is the
    version tag and an unknown tag fails loud."""
    v1, mc, dst = _tmpdir(), _tmpdir(), _tmpdir()
    parts = _atom_partitions() + [
        (b"k" * 200, [(b"n" * 300, 0, 0, 0, 5, b"x" * 400)]),  # multi-byte vints
    ]
    ss.write_sstable(parts, v1, generation="v1")
    ss.write_sstable(parts, mc, generation="mc")
    rows_v1 = sorted(tuple(r)
                     for r in ss.scan_sstable(spark, v1, num_splits=3).collect())
    rows_mc = sorted(tuple(r)
                     for r in ss.scan_sstable(spark, mc, num_splits=3).collect())
    assert rows_v1 == rows_mc and len(rows_mc) == 6
    # key-range pruning consults the vint index identically
    pruned = ss.scan_sstable(spark, mc, num_splits=2,
                             key_start="u1", key_stop="u2").collect()
    assert sorted(r.pk for r in pruned) == ["u1"] * 5
    # distributed sink in the mc generation -> rescan
    ss.write_sstable_distributed(ss.scan_sstable(spark, mc), dst,
                                 shards=2, generation="mc")
    again = sorted(tuple(r) for r in ss.scan_sstable(spark, dst).collect())
    assert again == rows_mc
    # unknown version tag fails loud
    with open(os.path.join(mc, "Version.txt"), "w") as f:
        f.write("zz")
    with pytest.raises(Exception, match="unknown sstable format generation"):
        ss.read_index(os.path.join(mc, "Index.db"))
    for d in (v1, mc, dst):
        shutil.rmtree(d)


def test_compressed_data_file_scan_prune_and_sink_roundtrip(spark):
    """Chunk-compressed Data.db (CompressionInfo.db offsets map, the
    reference's CompressedRandomAccessReader surface): identical rows to
    the plain file, index-planned key-range pruning unchanged (offsets
    are uncompressed coordinates), multi-chunk payloads inflate across
    chunk boundaries, compression composes with the mc generation, and
    the distributed sink round-trips."""
    plain, comp, dst = _tmpdir(), _tmpdir(), _tmpdir()
    # > 64 KiB of data so multiple chunks exist and values span chunks
    parts = [(f"k{i:04d}".encode(),
              [(b"c", 0, 0, 0, i, (f"{i}:" * 400).encode())])
             for i in range(120)] + _atom_partitions()
    ss.write_sstable(parts, plain)
    ss.write_sstable(parts, comp, compressed=True)
    assert os.path.exists(os.path.join(comp, "CompressionInfo.db"))
    assert (os.path.getsize(os.path.join(comp, "Data.db"))
            < os.path.getsize(os.path.join(plain, "Data.db")))
    a = sorted(tuple(r)
               for r in ss.scan_sstable(spark, plain, num_splits=5).collect())
    b = sorted(tuple(r)
               for r in ss.scan_sstable(spark, comp, num_splits=5).collect())
    assert a == b
    pr = ss.scan_sstable(spark, comp, num_splits=3,
                         key_start="k0050", key_stop="k0060").collect()
    assert sorted({r.pk for r in pr}) == [f"k{i:04d}" for i in range(50, 60)]
    # mc + compressed distributed sink -> rescan
    ss.write_sstable_distributed(
        ss.scan_sstable(spark, comp), dst, shards=2,
        generation="mc", compressed=True)
    again = sorted(tuple(r) for r in ss.scan_sstable(spark, dst).collect())
    assert again == a
    for d in (plain, comp, dst):
        shutil.rmtree(d)


def test_partition_deletion_decodes_preserves_and_roundtrips(spark):
    """A partition-deletion header decodes as its own row kind, its cells
    still stream out, strip preserves it verbatim, and the distributed
    sink re-encodes it back into the header (write -> rescan fixpoint)."""
    src, dst = _tmpdir(), _tmpdir()
    parts = [
        (b"u1", [(b"c1", 0, 0, 0, 100, b"v1")],
         (1_700_000_000, 99)),                     # deleted, one live cell
        (b"u2", [(b"c1", ss.EXPIRATION_MASK, 60, 1_700_000_060, 200,
                  b"v2")]),                        # live partition
        (b"u3", [], (1_600_000_000, 50)),          # deleted, empty
    ]
    ss.write_sstable(parts, src)

    def key(t):
        return (t[0], t[1] or "", t[2])

    rows = sorted((tuple(r) for r in
                   ss.scan_sstable(spark, src, num_splits=2).collect()),
                  key=key)
    assert rows == [
        ("u1", None, "partition_tombstone", None, 1_700_000_000, 99, None),
        ("u1", "c1", "normal", None, None, 100, "v1"),
        ("u2", "c1", "expiring", 60, 1_700_000_060, 200, "v2"),
        ("u3", None, "partition_tombstone", None, 1_600_000_000, 50, None),
    ]
    stripped = ss.strip_ttl_cells(ss.scan_sstable(spark, src))
    got = sorted((tuple(r) for r in stripped.collect()), key=key)
    assert got[0] == rows[0] and got[3] == rows[3], "deletions must survive"
    ss.write_sstable_distributed(stripped, dst, shards=2)
    again = sorted((tuple(r) for r in
                    ss.scan_sstable(spark, dst).collect()), key=key)
    assert again == got
    shutil.rmtree(src)
    shutil.rmtree(dst)


def test_mixed_generation_directory_scans_as_one_table(spark):
    """A directory whose shard sstables use DIFFERENT framings (v1 + mc,
    one of them compressed) scans as one frame — the rolling-upgrade
    state a real cluster's data directory is in, and exactly the
    per-table dispatch the reference's SPI models."""
    out = _tmpdir()
    p1 = [(b"a1", [(b"c", 0, 0, 0, 1, b"x")])]
    p2 = [(b"b1", [(b"c", ss.EXPIRATION_MASK, 60, 100, 2, b"y")])]
    p3 = [(b"c1", [(b"c", 0, 0, 0, 3, b"z" * 500)])]
    ss.write_sstable(p1, os.path.join(out, "g1"))
    ss.write_sstable(p2, os.path.join(out, "g2"), generation="mc")
    ss.write_sstable(p3, os.path.join(out, "g3"), generation="mc",
                     compressed=True)
    rows = sorted((r.pk, r.kind, r.value)
                  for r in ss.scan_sstable(spark, out, num_splits=3).collect())
    assert rows == [("a1", "normal", "x"), ("b1", "expiring", "y"),
                    ("c1", "normal", "z" * 500)]
    shutil.rmtree(out)


def test_corrupt_compressed_chunk_fails_loud():
    """A flipped byte inside a compressed chunk surfaces as the module's
    CorruptSSTableError naming the chunk, not a bare zlib traceback."""
    out = _tmpdir()
    parts = [(b"k", [(b"c", 0, 0, 0, 1, b"v" * 100)])]
    ss.write_sstable(parts, out, compressed=True)
    dp = os.path.join(out, "Data.db")
    blob = bytearray(open(dp, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(dp, "wb").write(bytes(blob))
    with pytest.raises(ss.CorruptSSTableError, match="compressed chunk"):
        list(ss.scan_data_range(dp, 0, 10**9))
    shutil.rmtree(out)


def test_bloom_sidecar_no_false_negatives_and_prunes_absent():
    """Filter.db: every written key answers might_contain=True (false
    negatives are impossible by construction — the test pins it anyway),
    and keys from a DISJOINT table are overwhelmingly rejected (at 10
    bits/key, k=7 the expected FP rate is ~0.8%; 200 disjoint probes
    make a fully-permissive regression certain to fail)."""
    out = _tmpdir()
    keys = [f"k{i:05d}".encode() for i in range(300)]
    ss.write_sstable(
        [(k, [(b"c", 0, 0, 0, 1, b"v")]) for k in keys], out
    )
    assert all(ss.bloom_might_contain(out, k) for k in keys)
    other = [f"absent{i:05d}".encode() for i in range(200)]
    fp = sum(ss.bloom_might_contain(out, k) for k in other)
    assert fp <= 20  # ~0.8% expected; 10% is a generous determinism bound
    shutil.rmtree(out)


def test_bloom_prunes_generations_at_plan_time(spark):
    """A point lookup over a directory of generations consults each
    table's Filter.db BEFORE its index (the reference's probe order,
    NoTTLReader.java:1521-1529): the planner emits splits only for
    tables whose bloom passes, and the result rows are identical with
    the sidecar deleted (pruning is invisible to correctness)."""
    out = _tmpdir()
    ss.write_sstable([(b"even0", [(b"c", 0, 0, 0, 1, b"a")]),
                      (b"even2", [(b"c", 0, 0, 0, 2, b"b")])],
                     os.path.join(out, "g1"))
    ss.write_sstable([(b"odd1", [(b"c", 0, 0, 0, 3, b"c")]),
                      (b"odd3", [(b"c", 0, 0, 0, 4, b"d")])],
                     os.path.join(out, "g2"))

    cls = ss._make_datasource_cls()
    reader = cls({"path": out, "key_start": "even2",
                  "key_stop": "even2\x00"}).reader(None)
    list(reader.pushFilters([]))
    dirs = {os.path.basename(os.path.dirname(p.data_path))
            for p in reader.partitions()}
    assert dirs == {"g1"}  # g2 dropped by bloom, its index never planned

    rows = [(r.pk, r.value)
            for r in ss.lookup_partition(spark, out, "even2").collect()]
    assert rows == [("even2", "b")]
    # sidecar absent (pre-bloom table) -> no pruning, same answer
    os.remove(os.path.join(out, "g2", "Filter.db"))
    rows2 = [(r.pk, r.value)
             for r in ss.lookup_partition(spark, out, "even2").collect()]
    assert rows2 == rows
    # range scans never consult the bloom (it answers point questions)
    allrows = ss.scan_sstable(spark, out, num_splits=2).count()
    assert allrows == 4
    shutil.rmtree(out)


def test_corrupt_filter_sidecar_fails_loud():
    out = _tmpdir()
    ss.write_sstable([(b"k1", [(b"c", 0, 0, 0, 1, b"v")])], out)
    fp = os.path.join(out, "Filter.db")
    open(fp, "wb").write(b"\x00\x01")  # truncated header
    with pytest.raises(ss.CorruptSSTableError, match="Filter.db header"):
        ss.bloom_might_contain(out, b"k1")
    open(fp, "wb").write(struct.pack(">QB", 128, 7) + b"\x00" * 3)
    with pytest.raises(ss.CorruptSSTableError, match="Filter.db"):
        ss.bloom_might_contain(out, b"k1")
    # an absurd m (multiple of 64) must hit the quarantine path BEFORE
    # any read attempt sized by it
    open(fp, "wb").write(struct.pack(">QB", 1 << 60, 7) + b"\x00" * 8)
    with pytest.raises(ss.CorruptSSTableError, match="implausible"):
        ss.bloom_might_contain(out, b"k1")
    shutil.rmtree(out)


def _whole_index_splits(table_dir, num_splits, ks, kp):
    """The planner's answer computed from the whole index as a list
    (read_index + select_index_range), cut by the same equal-count
    rule."""
    full = ss.read_index(os.path.join(table_dir, "Index.db"))
    lo, bs, be = ss.select_index_range(full, ss._data_size(table_dir), ks, kp)
    offs = [off for _, off in full[lo:] if off < be]
    if not offs:
        return []
    per = -(-len(offs) // min(num_splits, len(offs)))
    bounds = offs[::per] + [be]
    return [(os.path.join(table_dir, "Data.db"), a, b)
            for a, b in zip(bounds, bounds[1:])]


def test_summary_windowed_index_read_matches_full(spark):
    """Summary-assisted planning: for every probed range the walk from
    the summary window yields exactly the splits, byte range (and rows)
    the whole-index reference yields, while the window is strictly
    smaller than the index for narrow ranges — both framings, including
    ranges straddling sample boundaries, before the first key, and past
    the last."""
    for gen in ("v1", "mc"):
        out = _tmpdir()
        parts = [(f"k{i:04d}".encode(),
                  [(b"c", 0, 0, 0, i, str(i).encode())])
                 for i in range(300)]
        ss.write_sstable(parts, out, generation=gen, summary_interval=8)
        assert len(list(ss._iter_summary(out))) == (300 + 7) // 8
        full = ss.read_index(os.path.join(out, "Index.db"))
        size = ss._data_size(out)
        probes = [(b"k0000", b"k0000\x00"), (b"k0007", b"k0009"),
                  (b"k0125", b"k0130\x00"), (b"a", b"k0003"),
                  (b"k0290", b"zzz"), (None, b"k0004"), (b"k0299", None),
                  (b"nope", b"nope\x00")]
        for ks, kp in probes:
            want = ss.select_index_range(full, size, ks, kp)
            assert ss._key_byte_range(out, ks, kp) == want[1:], (gen, ks, kp)
            for n in (1, 4):
                assert (ss._plan_table_splits(out, n, ks, kp)
                        == _whole_index_splits(out, n, ks, kp)), (gen, ks, kp)
            if ks is not None and kp is not None and kp != b"zzz":
                win = list(ss._iter_index_with_offsets(
                    out, *ss._summary_window(out, ks, kp)))
                assert len(win) < len(full), (gen, ks, kp)
        # end-to-end: a pushed range scan returns identical rows with
        # and without the summary sidecar
        rows = sorted(
            (r.pk, r.value) for r in
            ss.scan_sstable(spark, out, num_splits=4,
                            key_start="k0100", key_stop="k0200").collect()
        )
        os.remove(os.path.join(out, "Summary.db"))
        rows2 = sorted(
            (r.pk, r.value) for r in
            ss.scan_sstable(spark, out, num_splits=4,
                            key_start="k0100", key_stop="k0200").collect()
        )
        assert rows == rows2
        assert len(rows) == 100
        shutil.rmtree(out)


def test_inverted_key_range_scans_empty(spark):
    """A key range whose start sorts after its stop selects no partition,
    with or without Summary.db, whether it comes as scan options or as a
    filter pushed to the planner: the index walk meets the stop bound
    before any key reaches the start bound."""
    out = _tmpdir()
    ss.write_sstable([(f"k{i:04d}".encode(), [(b"c", 0, 0, 0, i, b"v")])
                      for i in range(300)], out, summary_interval=8)
    for has_summary in (True, False):
        assert ss.scan_sstable(spark, out, key_start="k0200",
                               key_stop="k0100").count() == 0, has_summary
        assert ss.scan_sstable(spark, out).filter(
            "pk >= 'k0200' AND pk < 'k0100'").count() == 0, has_summary
        assert ss._plan_table_splits(out, 4, b"k0200", b"k0100") == []
        assert ss._key_byte_range(out, b"k0200", b"k0100") == (0, 0)
        if has_summary:
            os.remove(os.path.join(out, "Summary.db"))
    shutil.rmtree(out)


def test_post_2038_deletion_seconds_saturate_not_crash(spark):
    """ADVICE r8: localDeletionTime is an on-disk int32 of seconds;
    atoms with writetime >= 2^31 seconds (year 2038+) must saturate at
    INT32_MAX — Cassandra's own no-expiry sentinel — instead of raising
    struct.error mid-task. Unit-pins the cell constructor on merge
    statuses and scan rows, then runs the gc and compaction rewrites
    end-to-end on a future-dated tombstone and partition deletion."""
    wt_2100 = 4_102_444_800 * 1_000_000  # year 2100, epoch µs

    def status_cell(cell, val, status):
        [cell], _ = ss._resolved_partition(
            [(cell.encode(), wt_2100, val and val.encode(), status)])
        return cell

    name, mask, ttl, exp, wt, val = status_cell(
        "c1", None, "tombstone_retained")
    assert struct.unpack(">i", val)[0] == ss.INT32_MAX
    _, _, _, exp_rt, _, _ = status_cell(
        "c1", "c9", "range_tombstone_retained")
    assert exp_rt == ss.INT32_MAX
    cell = ss._row_to_cell("c1", "tombstone", None, wt_2100 // 1_000_000,
                           wt_2100, None)
    assert struct.unpack(">i", cell[5])[0] == ss.INT32_MAX
    cell = ss._row_to_cell("c1", "expiring", 60,
                           wt_2100 // 1_000_000 + 60, wt_2100, "v")
    assert cell[3] == ss.INT32_MAX

    src = _tmpdir()
    ss.write_sstable(
        [(b"k1", [
            (b"c1", ss.DELETION_MASK, 0, 0, wt_2100,
             struct.pack(">i", ss.INT32_MAX)),
            (b"c2", 0, 0, 0, wt_2100 + 1, b"v"),
        ]),
         (b"k2", [(b"c3", 0, 0, 0, wt_2100 + 1, b"w")],
          (ss.INT32_MAX, wt_2100))], src)
    # retained (inside grace): both rewrites re-encode the tombstone and
    # the partition deletion — the crash sites before the clamp
    for rewrite in (ss.gc_rewrite_single, ss.compact_rewrite):
        dst = _tmpdir()
        reports = rewrite(spark, src, dst, gc_grace_us=10**15,
                          now_us=wt_2100 + 2)
        assert reports
        got = [tuple(r) for r in ss.scan_sstable(spark, dst).collect()]
        kinds = {(r[0], r[1], r[2]) for r in got}
        assert {("k1", "c1", "tombstone"), ("k1", "c2", "normal"),
                ("k2", None, "partition_tombstone"),
                ("k2", "c3", "normal")} == kinds
        assert [r[4] for r in got if r[2] == "partition_tombstone"] == [
            ss.INT32_MAX]
        shutil.rmtree(dst)
    shutil.rmtree(src)


def test_merge_planner_ships_cut_keys_as_opaque_bytes(spark):
    """ADVICE r8: non-UTF-8 partition keys must not crash the merge
    PLANNER (cut points now travel as hex, compared as bytes). The data
    format's row decode is string-typed by declared convention, so this
    pins exactly the planner boundary: plan construction over binary
    keys succeeds without a UnicodeDecodeError."""
    base = _tmpdir()
    keys = [bytes([b, 0xFF, 0xFE]) for b in range(64)]  # invalid UTF-8
    for gen, sl in (("gen1", keys[0::2]), ("gen2", keys[1::2])):
        ss.write_sstable(
            [(k, [(b"c", 0, 0, 0, 1, b"v")]) for k in sl],
            os.path.join(base, gen), summary_interval=4)
    dirs = ss._resolve_table_dirs(base)
    cuts = ss._plan_merge_cuts(dirs, num_splits=4)
    assert cuts and all(isinstance(c, bytes) for c in cuts)
    # planner construction (driver side) must not UnicodeDecodeError
    df = ss.merge_compact_sorted(spark, base, gc_grace_us=0,
                                 now_us=10, num_splits=4)
    assert df.schema.fieldNames() == [
        "pk", "cell", "writetime", "value", "status"]
    shutil.rmtree(base)


def test_first_key_beyond_successor_and_bounded_window(spark):
    """Native S5 (firstKeyBeyond, NoTTLReader.java:1680-1715): for every
    probe position — before the first key, at a key, between keys, at a
    sample boundary, at/past the last key — the successor equals the
    exhaustive index answer, the probe parses ONLY the covering
    Summary.db-resolved Index.db window (strictly fewer bytes than the
    full index), and a table with no Summary.db falls back to the full
    parse with the same answer. At summary interval 1 every key is a
    sample, so a key's successor is the next sample, which the window
    must still reach. Directory-level min over the per-generation frame
    resolves the multi-table successor."""
    for gen, interval in itertools.product(("v1", "mc"), (8, 1)):
        out = _tmpdir()
        parts = [(f"k{i:04d}".encode(),
                  [(b"c", 0, 0, 0, i, str(i).encode())])
                 for i in range(300)]
        ss.write_sstable(parts, out, generation=gen,
                         summary_interval=interval)
        keys = [k for k, _ in ss.read_index(os.path.join(out, "Index.db"))]
        import bisect
        probes = [b"a", b"k0000", b"k0007", b"k0007\x00", b"k0125",
                  b"k0128", b"k0240", b"k0298", b"k0299", b"zzz"]
        for p in probes:
            nxt, parsed, total = ss._successor_in_dir(out, p)
            i = bisect.bisect_right(keys, p)
            want = keys[i] if i < len(keys) else None
            assert nxt == want, (gen, interval, p)
            assert parsed < total, (gen, interval, p, parsed, total)
        # no-Summary fallback: full parse, same successor
        os.remove(os.path.join(out, "Summary.db"))
        nxt, parsed, total = ss._successor_in_dir(out, b"k0125")
        assert nxt == b"k0126" and parsed == total
        shutil.rmtree(out)

    # distributed directory shape: per-generation rows + NULL contract
    base = _tmpdir()
    ss.write_sstable([(b"a1", [(b"c", 0, 0, 0, 1, b"v")]),
                      (b"a3", [(b"c", 0, 0, 0, 1, b"v")])],
                     os.path.join(base, "gen1"))
    ss.write_sstable([(b"a2", [(b"c", 0, 0, 0, 1, b"v")])],
                     os.path.join(base, "gen2"))
    rows = {r.generation: r.next_key
            for r in ss.first_key_beyond(spark, base, "a2").collect()}
    assert rows == {"gen1": "a3", "gen2": None}
    shutil.rmtree(base)


def test_resample_summary_both_paths_and_invariance(spark):
    """Adaptive summary resample (NoTTLReader.java:1062-1140 analog):
    (a) the DOWNSAMPLE path (dense -> keep every f-th existing sample)
    produces a Summary.db BYTE-IDENTICAL to a fresh write at the lifted
    interval — the phase-alignment property the docstring claims; (b)
    the REBUILD path (sparse -> walk Index.db) likewise; (c) in-band
    intervals are a noop; (d) a table with no Summary.db rebuilds at
    the min; (e) the per-table byte budget lifts the interval until the
    summary fits; (f) pushed range scans return identical rows before
    and after every resample. Both generations exercise the index walk
    framing."""
    def _summary_bytes(d):
        return open(os.path.join(d, "Summary.db"), "rb").read()

    parts = [(f"k{i:04d}".encode(), [(b"c", 0, 0, 0, i, str(i).encode())])
             for i in range(300)]
    for gen in ("v1", "mc"):
        # (a) downsample: interval 2 -> min 8 (f=4)
        dn, ref = _tmpdir(), _tmpdir()
        ss.write_sstable(parts, dn, generation=gen, summary_interval=2)
        before = sorted(
            (r.pk, r.value) for r in ss.scan_sstable(
                spark, dn, key_start="k0050", key_stop="k0150").collect())
        rep = ss.resample_summary_dir(dn, min_index_interval=8,
                                      max_index_interval=64)
        assert (rep["action"], rep["interval_after"]) == ("downsample", 8)
        assert rep["entries_before"] == 150 and rep["entries_after"] == 38
        ss.write_sstable(parts, ref, generation=gen, summary_interval=8)
        assert _summary_bytes(dn) == _summary_bytes(ref)
        # (b) rebuild: interval 8 -> max 4
        rep = ss.resample_summary_dir(dn, min_index_interval=2,
                                      max_index_interval=4)
        assert (rep["action"], rep["interval_after"]) == ("rebuild", 4)
        ref4 = _tmpdir()
        ss.write_sstable(parts, ref4, generation=gen, summary_interval=4)
        assert _summary_bytes(dn) == _summary_bytes(ref4)
        # (c) noop in band
        rep = ss.resample_summary_dir(dn, min_index_interval=2,
                                      max_index_interval=64)
        assert rep["action"] == "noop" and rep["entries_after"] == 75
        # (f) scans unchanged through all of it
        after = sorted(
            (r.pk, r.value) for r in ss.scan_sstable(
                spark, dn, key_start="k0050", key_stop="k0150").collect())
        assert after == before and len(after) == 100
        shutil.rmtree(dn), shutil.rmtree(ref), shutil.rmtree(ref4)

    # (d) no summary -> rebuild at min
    d = _tmpdir()
    ss.write_sstable(parts, d, summary_interval=8)
    os.remove(os.path.join(d, "Summary.db"))
    rep = ss.resample_summary_dir(d, min_index_interval=16,
                                  max_index_interval=64)
    assert (rep["action"], rep["interval_before"],
            rep["interval_after"]) == ("rebuild", None, 16)
    assert rep["entries_after"] == (300 + 15) // 16
    # (e) budget: current summary is ~19 entries; cap to fit ~5
    size = os.path.getsize(os.path.join(d, "Summary.db"))
    per_entry = (size - 8) / rep["entries_after"]
    rep = ss.resample_summary_dir(
        d, min_index_interval=16, max_index_interval=1024,
        summary_budget_bytes=int(8 + 5 * per_entry))
    assert rep["action"] == "downsample" and rep["entries_after"] <= 5
    assert os.path.getsize(os.path.join(d, "Summary.db")) <= 8 + 5 * per_entry
    shutil.rmtree(d)


def test_corrupt_summary_fails_loud():
    out = _tmpdir()
    ss.write_sstable([(b"k1", [(b"c", 0, 0, 0, 1, b"v")])], out)
    sp = os.path.join(out, "Summary.db")
    open(sp, "wb").write(struct.pack(">II", 64, 5) + b"\x00\x02")
    with pytest.raises(ss.CorruptSSTableError, match="Summary.db"):
        list(ss._iter_summary(out))
    shutil.rmtree(out)


def test_stats_sidecar_counts_and_bounds():
    """Statistics.db mirrors exactly what the scan emits: cell counts,
    expiring counts, writetime bounds (including tombstone and
    partition-deletion timestamps), ttl bounds; empty tables write the
    inverted no-rows sentinel."""
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    st = ss.read_stats(out)
    assert st == {
        "n_partitions": 3, "n_cells": 3, "n_expiring": 1,
        "min_writetime": 1_700_000_000_000_000,
        "max_writetime": 1_700_000_000_000_002,
        "min_ttl": 600, "max_ttl": 600,
    }
    shutil.rmtree(out)
    ss.write_sstable([], out)
    st = ss.read_stats(out)
    assert st["min_writetime"] > st["max_writetime"]  # no-rows sentinel
    shutil.rmtree(out)
    # a partition-deletion's markedForDeleteAt widens the bounds
    ss.write_sstable(
        [(b"k", [(b"c", 0, 0, 0, 500, b"v")], (1_600_000_000, 99))], out
    )
    st = ss.read_stats(out)
    assert (st["min_writetime"], st["max_writetime"]) == (99, 500)
    shutil.rmtree(out)


def test_stats_census_reports_ttl_debt_and_strip_clears_it(spark):
    """The census answers the reference tool's question from sidecars
    alone, and after the distributed strip the output generations
    report n_expiring = 0 — the operational 'TTL debt paid' check,
    without scanning a byte of data."""
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), os.path.join(out, "g1"))
    ss.write_sstable(
        [(b"z1", [(b"c", ss.EXPIRATION_MASK, 60, 100, 7, b"v")])],
        os.path.join(out, "g2"))
    rows = {r.generation: r for r in ss.stats_census(spark, out).collect()}
    assert rows["g1"].n_expiring == 1 and rows["g2"].n_expiring == 1
    assert rows["g2"].min_ttl == 60
    stripped = ss.strip_ttl_cells(ss.scan_sstable(spark, out))
    dst = _tmpdir()
    ss.write_sstable_distributed(stripped, dst, shards=2)
    after = ss.stats_census(spark, dst).collect()
    assert after and all(r.n_expiring == 0 for r in after)
    assert sum(r.n_cells for r in after) == 4
    shutil.rmtree(out)
    shutil.rmtree(dst)


def test_stats_census_missing_sidecar_fails_loud(spark):
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), os.path.join(out, "g1"))
    os.remove(os.path.join(out, "g1", "Statistics.db"))
    with pytest.raises(Exception, match="no Statistics.db"):
        ss.stats_census(spark, out).collect()
    shutil.rmtree(out)


def test_writetime_filter_skips_disjoint_generations(spark):
    """A pushed writetime predicate prunes non-intersecting generations
    at PLAN time via Statistics.db (min/max skip) while Spark still
    applies the filter exactly; without the sidecar, no pruning, same
    rows. All comparison shapes."""
    out = _tmpdir()
    old = [(f"a{i}".encode(), [(b"c", 0, 0, 0, 1000 + i, b"old")])
           for i in range(5)]
    new = [(f"b{i}".encode(), [(b"c", 0, 0, 0, 3000 + i, b"new")])
           for i in range(5)]
    ss.write_sstable(old, os.path.join(out, "g_old"))
    ss.write_sstable(new, os.path.join(out, "g_new"))

    cls = ss._make_datasource_cls()
    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    reader = cls({"path": out}).reader(None)
    leftover = list(reader.pushFilters([GreaterThan(("writetime",), 2000)]))
    assert len(leftover) == 1  # inspect-only: Spark keeps the filter
    dirs = {os.path.basename(os.path.dirname(p.data_path))
            for p in reader.partitions()}
    assert dirs == {"g_new"}

    reader = cls({"path": out}).reader(None)
    list(reader.pushFilters([LessThanOrEqual(("writetime",), 1004)]))
    dirs = {os.path.basename(os.path.dirname(p.data_path))
            for p in reader.partitions()}
    assert dirs == {"g_old"}

    # e2e through Catalyst: rows equal the post-hoc filter, with and
    # without the sidecars
    want = sorted((r.pk, r.writetime) for r in
                  ss.scan_sstable(spark, out).collect()
                  if r.writetime > 2000)
    got = sorted((r.pk, r.writetime) for r in
                 ss.scan_sstable(spark, out)
                 .filter("writetime > 2000").collect())
    assert got == want and len(got) == 5
    os.remove(os.path.join(out, "g_old", "Statistics.db"))
    got2 = sorted((r.pk, r.writetime) for r in
                  ss.scan_sstable(spark, out)
                  .filter("writetime > 2000").collect())
    assert got2 == want
    shutil.rmtree(out)


def test_digest_and_toc_sidecars_written_and_exact():
    """Every write emits Digest.crc32 (= zlib CRC of Data.db as stored,
    ASCII decimal) and TOC.txt naming exactly the component files."""
    import zlib

    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out)
    with open(os.path.join(out, "Data.db"), "rb") as f:
        want = zlib.crc32(f.read()) & 0xFFFFFFFF
    with open(os.path.join(out, "Digest.crc32")) as f:
        assert int(f.read().strip()) == want
    with open(os.path.join(out, "TOC.txt")) as f:
        named = sorted(ln.strip() for ln in f if ln.strip())
    assert named == sorted(os.listdir(out))
    assert "TOC.txt" in named and "Digest.crc32" in named
    shutil.rmtree(out)


def test_digest_covers_stored_bytes_for_compressed_tables():
    out = _tmpdir()
    ss.write_sstable(_mixed_partitions(), out, compressed=True)
    import zlib

    with open(os.path.join(out, "Data.db"), "rb") as f:
        want = zlib.crc32(f.read()) & 0xFFFFFFFF
    with open(os.path.join(out, "Digest.crc32")) as f:
        assert int(f.read().strip()) == want
    shutil.rmtree(out)


def test_verify_digests_detects_any_single_byte_flip(spark):
    """Healthy dir verifies clean; flipping one byte at several offsets
    (first, mid, last) fails digest_ok for exactly that generation; a
    file missing from / extra beyond TOC fails toc_ok."""
    base = _tmpdir()
    for gen, where_mod in (("gen1", 0), ("gen2", 1)):
        ss.write_sstable(
            [(f"u{i}".encode(),
              [(b"c", 0, 0, 0, 1_700_000_000_000_000 + i,
                str(i).encode())])
             for i in range(20) if i % 2 == where_mod],
            os.path.join(base, gen),
        )
    healthy = {r.generation: (r.digest_ok, r.toc_ok, r.data_length)
               for r in ss.verify_digests(spark, base).collect()}
    assert healthy["gen1"][:2] == (True, True)
    assert healthy["gen2"][:2] == (True, True)
    data_path = os.path.join(base, "gen2", "Data.db")
    assert healthy["gen2"][2] == os.path.getsize(data_path)

    size = os.path.getsize(data_path)
    for off in (0, size // 2, size - 1):
        with open(data_path, "r+b") as f:
            f.seek(off)
            b = f.read(1)
            f.seek(off)
            f.write(bytes([b[0] ^ 0x5A]))
        got = {r.generation: r.digest_ok
               for r in ss.verify_digests(spark, base).collect()}
        assert got == {"gen1": True, "gen2": False}
        with open(data_path, "r+b") as f:  # restore
            f.seek(off)
            f.write(b)
    # restored file verifies again
    got = {r.generation: r.digest_ok
           for r in ss.verify_digests(spark, base).collect()}
    assert got == {"gen1": True, "gen2": True}

    # TOC divergence: extra untracked file
    extra = os.path.join(base, "gen1", "Stray.db")
    with open(extra, "w") as f:
        f.write("x")
    got = {r.generation: r.toc_ok
          for r in ss.verify_digests(spark, base).collect()}
    assert got == {"gen1": False, "gen2": True}
    os.remove(extra)
    # missing component named by TOC
    os.remove(os.path.join(base, "gen2", "Summary.db"))
    got = {r.generation: r.toc_ok
           for r in ss.verify_digests(spark, base).collect()}
    assert got == {"gen1": True, "gen2": False}
    shutil.rmtree(base)


def test_verify_digests_missing_sidecar_fails_not_skips(spark):
    base = _tmpdir()
    ss.write_sstable(_mixed_partitions(), os.path.join(base, "g1"))
    os.remove(os.path.join(base, "g1", "Digest.crc32"))
    [r] = ss.verify_digests(spark, base).collect()
    assert r.digest_ok is False and r.toc_ok is False
    shutil.rmtree(base)


def _wide_partitions(n_cells=40):
    cells = []
    for i in range(n_cells):
        name = f"{i:06d}:c".encode()
        if i % 7 == 0:
            cells.append((name, ss.DELETION_MASK, 0, 0,
                          1_700_000_000_000_000 + i,
                          struct.pack(">i", 1_700_000_000)))
        elif i % 3 == 0:
            cells.append((name, ss.EXPIRATION_MASK, 600,
                          1_700_000_600, 1_700_000_000_000_000 + i,
                          f"v{i}".encode()))
        else:
            cells.append((name, 0, 0, 0,
                          1_700_000_000_000_000 + i, f"v{i}".encode()))
    return [(b"wide", cells), (b"narrow", cells[:2])]


def test_column_index_slice_equals_filtered_scan(spark):
    """Slice through the promoted column index == the full-scan filter,
    across all cell kinds and both generations, with and without
    compression."""
    for gen in ("v1", "mc"):
        for comp in (False, True):
            out = _tmpdir()
            ss.write_sstable(_wide_partitions(), out, generation=gen,
                             compressed=comp, colindex_every=8)
            full = ss.scan_sstable(spark, out)
            want = sorted(
                tuple(r) for r in full.collect()
                if r.pk == "wide" and "000005:" <= r.cell < "000030:"
            )
            got = sorted(tuple(r) for r in ss.scan_partition_slice(
                spark, out, "wide", "000005:", "000030:").collect())
            assert got == want and len(got) == 25, (gen, comp, len(got))
            shutil.rmtree(out)


def test_column_index_plan_prunes_blocks():
    """A late slice must seek past the early blocks (the O(slice) claim);
    the no-sidecar fallback plans from the partition head; a bloom-
    excluded key plans to None."""
    out = _tmpdir()
    ss.write_sstable(_wide_partitions(), out, colindex_every=8)
    # a start BEFORE the first block name plans from the partition head
    # (equivalent bytes; the first block begins at the first cell)
    pre = ss.plan_partition_slice(out, b"wide", b"000000:")
    assert pre is not None and pre[1] is False
    early = ss.plan_partition_slice(out, b"wide", b"000001:")
    late = ss.plan_partition_slice(out, b"wide", b"000035:")
    assert early is not None and late is not None
    assert late[1] and early[1] and late[0] > early[0]
    assert ss.plan_partition_slice(out, b"absent-key", b"x") is None
    os.remove(os.path.join(out, "ColumnIndex.db"))
    head = ss.plan_partition_slice(out, b"wide", b"000035:")
    assert head is not None and head[1] is False
    shutil.rmtree(out)


def test_column_index_fallback_without_sidecar_still_correct(spark):
    out = _tmpdir()
    ss.write_sstable(_wide_partitions(), out, colindex_every=8)
    want = sorted(tuple(r) for r in ss.scan_partition_slice(
        spark, out, "wide", "000010:", "000020:").collect())
    os.remove(os.path.join(out, "ColumnIndex.db"))
    got = sorted(tuple(r) for r in ss.scan_partition_slice(
        spark, out, "wide", "000010:", "000020:").collect())
    assert got == want and len(got) == 10
    shutil.rmtree(out)


def test_corrupt_column_index_fails_loud():
    out = _tmpdir()
    ss.write_sstable(_wide_partitions(), out, colindex_every=8)
    p = os.path.join(out, "ColumnIndex.db")
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) - 3)
    with pytest.raises(ss.CorruptSSTableError, match="ColumnIndex"):
        ss.plan_partition_slice(out, b"wide", b"000035:")
    shutil.rmtree(out)


def test_column_index_plan_memory_does_not_grow_with_partitions():
    """The slice planner walks ColumnIndex.db by key and holds one block:
    with 4x the partitions (each several blocks wide), planning a slice
    of the last partition peaks within 32 KiB of the smaller table
    (Summary.db samples and the bloom filter grow by a few bytes per
    partition; a planner that loads the whole sidecar grows by about
    1 KiB per partition)."""
    base = _tmpdir()
    peaks = []
    for n in (600, 4 * 600):
        out = os.path.join(base, f"n{n}")
        ss.write_sstable(
            [(f"p{p:06d}".encode(),
              [(f"{i:06d}:c".encode(), 0, 0, 0, 1_700_000_000_000_000 + i,
                b"v") for i in range(16)]) for p in range(n)],
            out, colindex_every=4)
        last = f"p{n - 1:06d}".encode()
        plan = []
        peaks.append(_traced_peak(lambda: plan.append(
            ss.plan_partition_slice(out, last, b"000009:"))))
        assert plan[0][1] is True and plan[0][2] == []
    assert peaks[1] - peaks[0] < 32 << 10, peaks
    shutil.rmtree(base)


def test_slice_reemits_open_range_tombstones(spark):
    """An RT opened in an earlier block must reach a slice that starts
    past it (via the block's open-RT marker); RTs opening inside the
    covering block before the slice are kept too; RTs whose range ends
    before the slice are not re-emitted."""
    cells = []
    # RT covering 000005..000025, written early (block 0)
    cells.append((b"000002:", ss.RANGE_TOMBSTONE_MASK, 0,
                  1_700_000_000, 1_700_000_000_000_500, b"000025:"))
    # RT fully before the slice window
    cells.append((b"000003:", ss.RANGE_TOMBSTONE_MASK, 0,
                  1_700_000_000, 1_700_000_000_000_501, b"000004:"))
    for i in range(40):
        cells.append((f"{i:06d}:c".encode(), 0, 0, 0,
                      1_700_000_000_000_000 + i, f"v{i}".encode()))
    # writer sorts partitions, not cells — order cells ourselves
    cells.sort(key=lambda c: c[0])
    out = _tmpdir()
    ss.write_sstable([(b"wide", cells)], out, colindex_every=8)
    got = sorted(
        (r.cell, r.kind, r.value)
        for r in ss.scan_partition_slice(
            spark, out, "wide", "000020:", "000030:").collect()
    )
    kinds = [k for _, k, _ in got]
    # the open RT from block 0 is re-emitted; the dead one is not
    assert ("000002:", "range_tombstone", "000025:") in got
    assert not any(c == "000003:" for c, _, _ in got)
    assert kinds.count("range_tombstone") == 1
    # plain cells of the slice all present
    plain = [c for c, k, _ in got if k == "normal"]
    assert plain == [f"{i:06d}:c" for i in range(20, 30)]
    # the plan really started past block 0 (marker path, not full decode)
    plan = ss.plan_partition_slice(out, b"wide", b"000020:")
    assert plan[1] is True and plan[2], "expected open-RT marker in plan"
    shutil.rmtree(out)


def test_slice_non_utf8_open_rt_bound_fails_naming_partition(spark):
    """An open range tombstone whose end bound is not UTF-8 fails the
    slice with the scan's ValueError, naming the Data.db and the
    partition's head offset (not the block the slice seeks to)."""
    cells = [(b"0000:a", ss.RANGE_TOMBSTONE_MASK, 0, 1_700_000_000,
              1_700_000_000_000_500, b"9999:\xff")]
    cells += [(f"{i:04d}:c".encode(), 0, 0, 0, 1_700_000_000_000_000 + i,
               b"v") for i in range(299)]
    out = _tmpdir()
    ss.write_sstable([(b"p", cells)], out)
    plan = ss.plan_partition_slice(out, b"p", b"0200:")
    assert plan[0] > 0 and plan[1] is True and plan[2]
    want = (f"{out}/Data.db: RT end bound of the partition at offset 0 "
            "is not UTF-8")
    with pytest.raises(Exception) as scan:
        ss.scan_sstable(spark, out).collect()
    assert want in str(scan.value)
    with pytest.raises(ValueError) as task:
        list(ss._iter_slice_one_dir(out, *plan, "p", "0200:", "0300:"))
    assert str(task.value).startswith(want)
    with pytest.raises(Exception) as sliced:
        ss.scan_partition_slice(spark, out, "p", "0200:", "0300:").collect()
    assert want in str(sliced.value)
    shutil.rmtree(out)


def _job_shape(spark, fn) -> tuple[list, int, int, int]:
    """``fn()``'s result, then the jobs, stages and tasks it ran, read
    from the status tracker by job group."""
    sc = spark.sparkContext
    gid = f"shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "plan shape")
    try:
        got = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    tasks = sum(st.getStageInfo(s).numTasks for s in stages)
    return got, len(jobs), len(stages), tasks


def test_sweeps_and_slice_are_one_job_one_stage(spark):
    """The per-table sweeps (verify_digests standing in for all six) and
    the slice run their specs as one job of one stage with no exchange,
    at most min(specs, defaultParallelism) tasks."""
    from cassandra_ttl_remover_spark.plans import exchange_count

    base = _tmpdir()
    for g in range(6):
        ss.write_sstable(
            [(b"p", [(f"{i:04d}:c".encode(), 0, 0, 0, g * 1000 + i, b"v")
                     for i in range(g * 20, g * 20 + 100)])],
            os.path.join(base, f"g{g}"), colindex_every=8)
    par = spark.sparkContext.defaultParallelism
    df = ss.verify_digests(spark, base)
    assert exchange_count(df) == 0
    rows, jobs, stages, tasks = _job_shape(spark, df.collect)
    assert len(rows) == 6 and all(r.digest_ok and r.toc_ok for r in rows)
    assert (jobs, stages) == (1, 1) and 0 < tasks <= min(6, par)
    df = ss.scan_partition_slice(spark, base, "p", "0030:", "0050:")
    assert exchange_count(df) == 0
    rows, jobs, stages, tasks = _job_shape(spark, df.collect)
    assert sorted({r.cell for r in rows}) == [
        f"{i:04d}:c" for i in range(30, 50)]
    assert (jobs, stages) == (1, 1) and 0 < tasks <= min(6, par)
    shutil.rmtree(base)


def test_scrub_healthy_and_each_corruption_isolated(spark):
    """A healthy table is all-green (shallow and deep); each corruption
    flips ONLY its own verdict: data byte -> digest, stray file -> toc,
    summary drift -> summary, stats count -> stats(deep)."""
    base = _tmpdir()
    d = os.path.join(base, "g1")
    ss.write_sstable(
        [(f"k{i:03d}".encode(),
          [(b"c", 0, 0, 0, 1_700_000_000_000_000 + i, str(i).encode())])
         for i in range(20)],
        d,
    )
    def scrub(deep=False):
        [r] = ss.scrub_tables(spark, base, deep=deep).collect()
        return r
    r = scrub(deep=True)
    assert all([r.digest_ok, r.toc_ok, r.index_ok, r.summary_ok,
                r.bloom_ok, r.stats_ok])
    assert r.n_partitions == 20 and r.n_cells == 20

    # summary drift
    p = os.path.join(d, "Summary.db")
    orig = open(p, "rb").read()
    buf = bytearray(orig); buf[-1] ^= 1
    open(p, "wb").write(bytes(buf))
    r = scrub()
    assert r.summary_ok is False and r.digest_ok and r.index_ok
    open(p, "wb").write(orig)

    # data corruption -> digest only (shallow)
    dp = os.path.join(d, "Data.db")
    db = bytearray(open(dp, "rb").read()); db[5] ^= 0xFF
    open(dp, "wb").write(bytes(db))
    r = scrub()
    assert r.digest_ok is False and r.toc_ok and r.summary_ok
    db[5] ^= 0xFF
    open(dp, "wb").write(bytes(db))

    # stats count lie -> stats_ok False only under deep
    sp = os.path.join(d, "Statistics.db")
    st = bytearray(open(sp, "rb").read())
    st[12:20] = (21).to_bytes(8, "big")  # n_cells field
    open(sp, "wb").write(bytes(st))
    assert scrub().stats_ok is True  # shallow checks partitions only
    assert scrub(deep=True).stats_ok is False
    shutil.rmtree(base)


def _oracle_compact(rows, **kw) -> list[tuple]:
    """compact_atoms_oracle_sql in DuckDB over collected SSTABLE_SCHEMA
    rows: the reference independent of the resolver both Spark plans
    run."""
    import duckdb
    import pyarrow as pa

    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms_oracle_sql,
    )

    str_, int_ = pa.string(), pa.int64()
    types = [str_, str_, str_, int_, int_, int_, str_]
    atoms = pa.table([pa.array(col, t) for col, t in zip(zip(*rows), types)],
                     names=["pk", "cell", "kind", "ttl", "expiration",
                            "writetime", "value"])
    con = duckdb.connect()
    con.register("scanned", atoms)
    return con.execute(compact_atoms_oracle_sql(
        "SELECT * FROM scanned", **kw)).fetchall()


def test_merge_compact_sorted_equals_argmax_form(spark):
    """Cross-plan equivalence on the FULL atom surface (counters, range
    tombstones, partition deletes across three generations): the
    zero-shuffle k-way sorted merge must produce exactly compact_atoms'
    rows, for any split count (1, 3, 8 — boundary partitions must not
    drop/duplicate, and deletion atoms must travel with their pk). Both
    run one resolver, so compact_atoms is first held to the DuckDB
    oracle over the same atoms."""
    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms,
    )

    base = _tmpdir()
    ss.events_sstable_fixture_v2(spark, "/root/testdata/sf0.001",
                                 os.path.join(base, "gen1"),
                                 with_partition_deletes=True)
    ss.events_sstable_update_fixture_v2(spark, "/root/testdata/sf0.001",
                                        os.path.join(base, "gen2"))
    ss.events_sstable_delete_fixture_v2(spark, "/root/testdata/sf0.001",
                                        os.path.join(base, "gen3"))
    kw = dict(gc_grace_us=10 * 86400 * 1_000_000,
              now_us=1706745600 * 1_000_000)
    want = sorted(tuple(r) for r in compact_atoms(
        ss.scan_sstable(spark, base, num_splits=8), **kw).collect())
    assert {r[4] for r in want} >= {"live", "counter_live",
                                    "range_tombstone_retained"}
    atoms = ss.scan_sstable(spark, base).collect()
    assert sorted(_oracle_compact(atoms, **kw)) == want
    for n in (1, 3, 8):
        got = sorted(tuple(r) for r in ss.merge_compact_sorted(
            spark, base, num_splits=n, **kw).collect())
        assert got == want, n
    # bounded planner: a tiny decimation cap must not change the rows
    got = sorted(tuple(r) for r in ss.merge_compact_sorted(
        spark, base, num_splits=5, max_planner_keys=2, **kw).collect())
    assert got == want
    shutil.rmtree(base)


def test_merge_compact_sorted_moves_no_cell_bytes(spark):
    """The merge plan has no exchange: the cell stream never shuffles
    (the 100 TB claim)."""
    from cassandra_ttl_remover_spark.plans import exchange_count

    base = _tmpdir()
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "gen1"))
    df = ss.merge_compact_sorted(
        spark, base, gc_grace_us=0, now_us=0, num_splits=4)
    assert exchange_count(df) == 0
    shutil.rmtree(base)


def test_merge_compact_sorted_is_one_job_one_stage(spark):
    """The merge runs its key ranges as one job of one stage, with no
    exchange: one task per range, at most defaultParallelism."""
    base = _tmpdir()
    for g in range(2):
        ss.write_sstable(
            [(f"k{i:03d}".encode(), [(b"c", 0, 0, 0, g, b"v")])
             for i in range(g, 40, g + 1)],
            os.path.join(base, f"g{g}"), summary_interval=4)
    rows, jobs, stages, tasks = _job_shape(
        spark, ss.merge_compact_sorted(spark, base, gc_grace_us=0, now_us=0,
                                       num_splits=4).collect)
    assert len(rows) == 40 and (jobs, stages) == (1, 1)
    assert tasks == min(spark.sparkContext.defaultParallelism, len(
        ss._merge_ranges(ss._resolve_table_dirs(base), 4)))
    shutil.rmtree(base)


def _strip_reference(shard_dir, data_path, start, end):
    """The row-level reference for one split: decode, make every expiring
    row live, re-encode each partition through write_sstable. Returns
    ``(n_partitions, n_rows)``."""
    rows = [(pk, cell, "normal", None, None, wt, val) if kind == "expiring"
            else (pk, cell, kind, ttl, exp, wt, val)
            for pk, cell, kind, ttl, exp, wt, val
            in ss.scan_data_range(data_path, start, end)]
    parts = [(pk.encode(), *ss._partition_cells(rs))
             for pk, rs in itertools.groupby(rows, lambda r: r[0])]
    ss.write_sstable(parts, shard_dir)
    return len(parts), len(rows)


def _assert_same_table(got_dir, want_dir):
    names = sorted(os.listdir(want_dir))
    assert sorted(os.listdir(got_dir)) == names
    for name in names:
        with open(os.path.join(got_dir, name), "rb") as g, \
                open(os.path.join(want_dir, name), "rb") as w:
            assert g.read() == w.read(), (got_dir, name)


def _every_atom_partitions():
    """Cells in name order covering every atom kind: expiring, normal,
    cell tombstones, counters, counter updates and range tombstones; one
    partition wide enough for several ColumnIndex blocks, every fifth
    partition deleted, one live partition with no atoms, and one whose
    mask bytes set extra bits (the decoder's dispatch order picks the
    atom; the rewrite writes its one-bit mask)."""
    wt = 1_700_000_000_000_000
    parts = [(b"empty", []), (b"odd-masks", [
        (b"a", ss.EXPIRATION_MASK | ss.DELETION_MASK, 60, 1_700_000_060,
         wt, b"x"),
        (b"b", ss.COUNTER_MASK | ss.EXPIRATION_MASK, 0, wt - 5, wt, b"3"),
        (b"c", ss.COUNTER_UPDATE_MASK | ss.DELETION_MASK, 0, 0, wt,
         b"4"),
        (b"d", ss.RANGE_TOMBSTONE_MASK | ss.DELETION_MASK, 0,
         1_700_000_000, wt, b"e"),
        (b"f", ss.DELETION_MASK | 0x40, 0, 0, wt,
         struct.pack(">i", 1_700_000_000)),
    ])]
    for p in range(40):
        cells = []
        for i in range(150 if p == 0 else 5 + p % 7):
            name = f"{i:06d}:c".encode()
            wt = 1_700_000_000_000_000 + p * 1000 + i
            k = (p + i) % 6
            if k == 0:
                cells.append((name, ss.EXPIRATION_MASK, 600, 1_700_000_600,
                              wt, f"v{i}".encode()))
            elif k == 1:
                cells.append((name, ss.DELETION_MASK, 0, 0, wt,
                              struct.pack(">i", 1_700_000_000)))
            elif k == 2:
                cells.append((name, ss.COUNTER_MASK, 0, wt - 5, wt, b"42"))
            elif k == 3:
                cells.append((name, ss.COUNTER_UPDATE_MASK, 0, 0, wt, b"7"))
            elif k == 4:
                cells.append((name, ss.RANGE_TOMBSTONE_MASK, 0,
                              1_700_000_000, wt,
                              f"{i + 70:06d}:z".encode()))
            else:
                cells.append((name, 0, 0, 0, wt, f"v{i}".encode()))
        key = f"p{p:03d}".encode()
        if p % 5 == 0:
            parts.append((key, cells,
                          (1_700_000_000, 1_700_000_000_000_999 + p)))
        else:
            parts.append((key, cells))
    return parts


@pytest.mark.parametrize("generation,compressed,scheduler", [
    (g, c, sch) for sch in ("spark", "pool")
    for g, c in (("v1", False), ("mc", False), ("v1", True), ("mc", True))],
    ids=[f"{g}{sfx}" for sfx in ("", "-pool")
         for g in ("v1", "mc", "v1-compressed", "mc-compressed")])
def test_rewrite_stripped_zero_shuffle_and_digest_clean(spark, generation,
                                                        compressed,
                                                        scheduler):
    """The 1:1 strip rewrite on every source framing and on both
    schedulers (a Spark job, the local pool): each split's shard is,
    component by component, byte-identical to decoding, stripping and
    re-encoding that split; the output scan equals strip_ttl_cells of
    the source with every atom kind and partition deletions kept; every
    shard passes the digest sweep."""
    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(_every_atom_partitions(), src, generation=generation,
                     compressed=compressed)
    out = os.path.join(base, "out")
    report = ss.rewrite_stripped(spark if scheduler == "spark" else None,
                                 src, out, num_splits=4)
    specs = ss._split_specs(src, 4)
    by_shard = {r.shard: r for r in report}
    assert sorted(by_shard) == sorted(s[0] for s in specs)
    for shard, *split in specs:
        ref = os.path.join(base, "ref", shard)
        counts = _strip_reference(ref, *split)
        assert (by_shard[shard].n_partitions,
                by_shard[shard].n_cells) == counts
        _assert_same_table(os.path.join(out, shard), ref)
    want = sorted((tuple(r) for r in
                   ss.strip_ttl_cells(
                       ss.scan_sstable(spark, src)).collect()), key=repr)
    got = sorted((tuple(r) for r in
                  ss.scan_sstable(spark, out).collect()), key=repr)
    assert got == want
    assert sum(r.n_cells for r in report) == len(want)
    assert not any(r[2] == "expiring" for r in got)
    assert {r[2] for r in got} == {
        "normal", "tombstone", "counter", "counter_update",
        "range_tombstone", "partition_tombstone"}
    checks = ss.verify_digests(spark, out).collect()
    assert checks and all(r.digest_ok and r.toc_ok for r in checks)
    shutil.rmtree(base)


def test_rewrite_stripped_keeps_binary_bytes(spark):
    """Keys, cell names, values and range-tombstone bounds that are not
    UTF-8 are opaque bytes to the strip, on both schedulers: the output
    shard is, component by component, the table write_sstable writes for
    the stripped partitions."""
    wt = 1_700_000_000_000_000
    raw = b"\xff\xfe\x00\x01"
    src_cells = [
        (b"\x00bin", ss.EXPIRATION_MASK, 600, 1_700_000_600, wt, raw),
        (b"c\x80", 0, 0, 0, wt + 1, raw),
        (b"c\xff", ss.RANGE_TOMBSTONE_MASK, 0, 1_700_000_000, wt + 2,
         b"d\xfe"),
    ]
    live = [(b"\xfe", ss.EXPIRATION_MASK, 60, 1_700_000_060, wt + 3,
             b"\x80")]
    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable([(b"k\xff", src_cells, (1_700_000_000, wt - 1)),
                      (b"a\xc3", live)], src)

    def strip(cells):
        return [(n, 0, 0, 0, w, v) if m == ss.EXPIRATION_MASK
                else (n, m, t, e, w, v) for n, m, t, e, w, v in cells]

    want = os.path.join(base, "want")
    ss.write_sstable([(b"k\xff", strip(src_cells), (1_700_000_000, wt - 1)),
                      (b"a\xc3", strip(live))], want)
    for scheduler, session in (("spark", spark), ("pool", None)):
        out = os.path.join(base, scheduler)
        report = ss.rewrite_stripped(session, src, out, num_splits=1)
        assert [(r.shard, r.n_partitions, r.n_cells) for r in report] == [
            ("src_shard=00000", 2, 5)]
        _assert_same_table(os.path.join(out, "src_shard=00000"), want)
    shutil.rmtree(base)


@pytest.mark.parametrize("damage", ["truncated", "overrun"])
def test_strip_corrupt_input_fails_loud_naming_data_file(spark, capsys,
                                                         damage):
    """A Data.db cut mid-partition, or a partition whose last value length
    runs past its end marker into the next index offset, raises
    CorruptSSTableError naming the Data.db path; the CLI exits 1 with
    that path on stderr."""
    import re

    from cassandra_ttl_remover_spark.cli import main

    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(
        [(f"k{p}".encode(),
          [(f"c{i}".encode(), ss.EXPIRATION_MASK, 60, 1_700_000_060,
            1_700_000_000_000_000 + i, b"value") for i in range(4)])
         for p in range(3)], src)
    data = os.path.join(src, "Data.db")
    with open(data, "rb") as f:
        raw = bytearray(f.read())
    if damage == "truncated":
        raw = raw[:-7]
    else:
        # k0's last cell: i32 value length, b"value", then the u16 end
        # marker; growing the length swallows the marker
        nxt = ss.read_index(os.path.join(src, "Index.db"))[1][1]
        struct.pack_into(">i", raw, nxt - 2 - 5 - 4, 7)
    with open(data, "wb") as f:
        f.write(bytes(raw))
    _, _, start, end = ss._split_specs(src, 1)[0]
    with pytest.raises(ss.CorruptSSTableError, match=re.escape(data)):
        ss._strip_split(os.path.join(base, "shard"), data, start, end)
    rc = main(["--input", src, "--output-path", os.path.join(base, "out"),
               "--input-format", "sstable", "--output-format", "sstable"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "CorruptSSTableError" in err and data in err
    shutil.rmtree(base)


def test_data_cut_at_partition_boundary_fails_loud(spark, capsys):
    """A Data.db cut exactly where its third partition starts leaves every
    record whole, so only the index betrays it: planning, the per-split
    offsets, the rewrite, the scan and the CLI all raise
    CorruptSSTableError naming both Data.db and Index.db instead of
    returning two partitions."""
    from cassandra_ttl_remover_spark.cli import main

    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(
        [(f"k{p}".encode(),
          [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060,
            1_700_000_000_000_000, b"value")]) for p in range(3)], src)
    data, index = (os.path.join(src, c) for c in ("Data.db", "Index.db"))
    cut = ss.read_index(index)[2][1]
    with open(data, "r+b") as f:
        f.truncate(cut)

    def names_both(exc_text):
        return data in exc_text and index in exc_text

    with pytest.raises(ss.CorruptSSTableError) as e:
        ss._split_specs(src, 4)
    assert names_both(str(e.value))
    with pytest.raises(ss.CorruptSSTableError) as e:
        list(ss._split_offsets(src, 0, cut))
    assert names_both(str(e.value))
    with pytest.raises(ss.CorruptSSTableError) as e:
        ss.rewrite_stripped(spark, src, os.path.join(base, "out"))
    assert names_both(str(e.value))
    with pytest.raises(Exception) as e:
        ss.scan_sstable(spark, src).collect()
    assert "CorruptSSTableError" in str(e.value) and names_both(str(e.value))
    rc = main(["--input", src, "--output-path", os.path.join(base, "cli"),
               "--input-format", "sstable", "--output-format", "sstable"])
    assert rc == 1 and names_both(capsys.readouterr().err)
    shutil.rmtree(base)


def test_rewrite_driver_is_one_job_one_stage_one_wave(spark):
    """The rewrite driver is one plain job over the specs: one stage, at
    most defaultParallelism tasks, and still one report row and one
    shard per spec."""
    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(
        [(f"k{p:03d}".encode(),
          [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060, p, b"v"),
           (b"d", 0, 0, 0, p, b"w")]) for p in range(64)], src)
    assert len(ss._split_specs(src, 8)) == 8
    sc = spark.sparkContext
    gid = f"rewrite-shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "rewrite_stripped plan shape")
    try:
        report = ss.rewrite_stripped(spark, src, os.path.join(base, "out"),
                                     num_splits=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(gid)
    assert len(jobs) == 1
    stages = st.getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1
    tasks = st.getStageInfo(stages[0]).numCompletedTasks
    assert 0 < tasks <= sc.defaultParallelism
    assert sorted(r.shard for r in report) == [
        f"src_shard={i:05d}" for i in range(8)]
    assert all((r.n_partitions, r.n_cells) == (8, 16) for r in report)
    assert sorted(os.listdir(os.path.join(base, "out"))) == sorted(
        r.shard for r in report)
    shutil.rmtree(base)


def _assert_same_shards(got_dir, want_dir):
    assert sorted(os.listdir(got_dir)) == sorted(os.listdir(want_dir))
    for shard in os.listdir(want_dir):
        _assert_same_table(os.path.join(got_dir, shard),
                           os.path.join(want_dir, shard))


def test_gc_and_compact_rewrite_same_bytes_on_both_schedulers(spark):
    """GC and compaction write the same report and, in every file of
    every shard, the same bytes on the local pool as in a Spark job."""
    base = _tmpdir()
    gens = os.path.join(base, "gens")
    ss.write_sstable(_every_atom_partitions(), os.path.join(gens, "gen1"),
                     summary_interval=4)
    wt = 1_700_000_000_000_500
    ss.write_sstable(
        [(f"p{p:03d}".encode(),
          [(b"000001:c", 0, 0, 0, wt, b"new"),
           (b"000002:c", ss.DELETION_MASK, 0, 0, wt,
            struct.pack(">i", 1_700_000_100))],
          *([(1_700_000_000, wt - 1)] if p % 9 == 0 else []))
         for p in range(0, 40, 3)],
        os.path.join(gens, "gen2"), summary_interval=4)
    kw = dict(gc_grace_us=300 * 1_000_000,
              now_us=1_700_000_000_000_000 + 400 * 1_000_000)
    for name, rewrite, src in (
            ("gc", ss.gc_rewrite_single, os.path.join(gens, "gen1")),
            ("compact", ss.compact_rewrite, gens)):
        on_spark, on_pool = (os.path.join(base, f"{name}-{s}")
                             for s in ("spark", "pool"))
        want = rewrite(spark, src, on_spark, num_splits=4, **kw)
        got = rewrite(None, src, on_pool, num_splits=4, **kw)
        assert len(want) == 4, name
        assert [tuple(r) for r in got] == [tuple(r) for r in want], name
        _assert_same_shards(on_pool, on_spark)
    shutil.rmtree(base)


def _traced_peak(fn) -> int:
    import tracemalloc

    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def test_gc_and_compaction_task_memory_does_not_grow_with_split():
    """A GC task holds one partition at a time and a compaction task one
    partition per generation: with partitions of the same size, 4x more
    partitions per split leave each task's traced peak within 64 KiB
    (about 31 bytes per extra partition; a task that buffers its split
    grows by megabytes). Both inputs' Data.db exceed the 1 MiB digest
    read buffer, so that fixed buffer is the same in every run."""
    wt = 1_700_000_000_000_000
    tomb = struct.pack(">i", 1_700_000_000)
    base = _tmpdir()
    peaks = []
    for n in (700, 4 * 700):
        gens = [os.path.join(base, f"n{n}", f"g{g}") for g in range(2)]
        for g, d in enumerate(gens):
            ss.write_sstable(
                [(f"p{p:06d}".encode(),
                  [(f"{i:06d}:c".encode(), ss.DELETION_MASK, 0, 0, wt + g,
                    tomb) if i == 3 else
                   (f"{i:06d}:c".encode(), 0, 0, 0, wt + 10 * g + i,
                    bytes(200)) for i in range(8)]) for p in range(n)], d)
        data = os.path.join(gens[0], "Data.db")
        size = os.path.getsize(data)
        assert size > 1 << 20
        out = os.path.join(base, f"n{n}")
        peaks.append((
            _traced_peak(lambda: ss._gc_split(
                os.path.join(out, "gc"), data, 0, size, wt + 5)),
            _traced_peak(lambda: ss._compact_range(
                os.path.join(out, "compact"), gens, None, None, wt + 5))))
        assert ss.read_stats(os.path.join(out, "gc"))["n_partitions"] == n
        assert ss.read_stats(
            os.path.join(out, "compact"))["n_cells"] == 7 * n
    (gc1, cp1), (gc4, cp4) = peaks
    assert gc4 - gc1 < 64 << 10, peaks
    assert cp4 - cp1 < 64 << 10, peaks
    shutil.rmtree(base)


def test_compact_group_memory_is_one_key():
    """compact_atoms' group function holds one key's atoms: over one key
    of 200k atoms (100k cells, two versions each) its traced peak stays
    under 128 MiB, about 670 bytes an atom (measured: 77 MiB)."""
    import pandas as pd

    n, wt = 200_000, 1_700_000_000_000_000
    pdf = pd.DataFrame({
        "pk": ["p"] * n, "cell": [f"c{i // 2:07d}" for i in range(n)],
        "kind": ["normal"] * n, "ttl": [0] * n, "expiration": [0] * n,
        "writetime": [wt + i for i in range(n)], "value": ["v" * 20] * n})
    out = []
    peak = _traced_peak(lambda: out.append(ss._compact_key(pdf, 0)))
    assert len(out[0]) == n // 2
    assert list(out[0].iloc[0]) == ["p", "c0000000", wt + 1, "v" * 20,
                                    "live"]
    assert peak < 128 << 20, peak


def _child_pids() -> set[str]:
    """Live child pids of this process, across all of its threads."""
    import glob

    pids: set[str] = set()
    for path in glob.glob("/proc/self/task/*/children"):
        with open(path) as f:
            pids.update(f.read().split())
    return pids


@pytest.mark.parametrize("outcome", ["ok", "raises", "killed"])
def test_rewrite_pool_leaves_no_process(outcome):
    """The local pool is created and shut down inside the call: after a
    successful call, a task that raises (its exception keeps its type),
    and a worker killed mid-task (BrokenProcessPool naming the specs it
    left unfinished), no child process of this one is left."""
    import multiprocessing
    import signal
    from concurrent.futures.process import BrokenProcessPool

    base = _tmpdir()
    specs = [(f"shard={i:05d}", f"/data/t{i}/Data.db", i) for i in range(6)]

    def task(shard_dir, data_path, i):
        if i == 3 and outcome == "raises":
            raise ss.CorruptSSTableError(f"{data_path}: malformed")
        if i == 3 and outcome == "killed":
            os.kill(os.getpid(), signal.SIGKILL)
        os.makedirs(shard_dir)
        return (i * 10,)

    before = _child_pids()
    if outcome == "ok":
        report = ss._rewrite_shards(None, base, specs, task, ("n",))
        assert [(r.shard, r.n) for r in report] == [
            (f"shard={i:05d}", i * 10) for i in range(6)]
    elif outcome == "raises":
        with pytest.raises(ss.CorruptSSTableError,
                           match="/data/t3/Data.db: malformed"):
            ss._rewrite_shards(None, base, specs, task, ("n",))
    else:
        with pytest.raises(BrokenProcessPool, match="/data/t3/Data.db"):
            ss._rewrite_shards(None, base, specs, task, ("n",))
    assert not multiprocessing.active_children()
    assert _child_pids() <= before
    shutil.rmtree(base)


@pytest.mark.parametrize("scheduler", ["spark", "pool"])
def test_rewrite_task_that_fails_leaves_no_readable_shard(spark, scheduler):
    """A shard is committed only when its task returns: a task that
    raises after writing its Data.db leaves a dot-prefixed temp
    directory that the readers skip, so neither _resolve_table_dirs nor
    scan_sstable accepts anything under the output directory."""
    base = _tmpdir()
    out = os.path.join(base, "out")

    def task(shard_dir, i):
        ss.write_sstable([(b"k", [(b"c", 0, 0, 0, i, b"v")])], shard_dir)
        raise ss.CorruptSSTableError(f"task {i} failed after Data.db")

    with pytest.raises(Exception, match="task 7 failed after Data.db"):
        ss._rewrite_shards(spark if scheduler == "spark" else None, out,
                           [("shard=00000", 7)], task, ("n",))
    assert os.listdir(out) == [".tmp-shard=00000"]
    assert os.path.exists(os.path.join(out, ".tmp-shard=00000", "Data.db"))
    with pytest.raises(ValueError, match="no Data.db"):
        ss._resolve_table_dirs(out)
    with pytest.raises(Exception, match="no Data.db"):
        ss.scan_sstable(spark, out).collect()
    shutil.rmtree(base)


def test_rewrite_task_replaces_a_stale_temp_shard(monkeypatch):
    """A retried task first removes what an earlier attempt left in its
    temp directory, so the committed shard holds only this attempt's
    files."""
    base = _tmpdir()
    stale = os.path.join(base, ".tmp-shard=00000")
    os.makedirs(stale)
    for name in ("Data.db", "Stale.db"):
        with open(os.path.join(stale, name), "wb") as f:
            f.write(b"from an earlier attempt")
    # the stale copy stands for an earlier attempt of this same run
    monkeypatch.setattr(ss, "_claim_out_dir", lambda out_dir: None)

    def task(shard_dir, i):
        ss.write_sstable([(b"k", [(b"c", 0, 0, 0, i, b"v")])], shard_dir)
        return (1,)

    ss._rewrite_shards(None, base, [("shard=00000", 7)], task, ("n",))
    want = os.path.join(base, "want")
    ss.write_sstable([(b"k", [(b"c", 0, 0, 0, 7, b"v")])], want)
    assert sorted(os.listdir(base)) == ["shard=00000", "want"]
    _assert_same_table(os.path.join(base, "shard=00000"), want)
    shutil.rmtree(base)


def test_commit_replaces_a_committed_table_and_nothing_else():
    """A retried task replaces the table an earlier attempt committed
    under the same name; a directory that holds other files is never
    replaced: the rename fails and leaves it as it was."""
    base = _tmpdir()
    final = os.path.join(base, "shard=00000")
    ss.write_sstable([(b"old", [(b"c", 0, 0, 0, 1, b"v")])], final)
    rows = [("new", "c", "normal", None, None, 2, "v")]
    assert ss._commit_table(
        os.path.join(base, ".tmp-shard=00000.1"), final,
        lambda tmp: ss._write_rows(tmp, iter(rows))) == (1, 1)
    assert os.listdir(base) == ["shard=00000"]
    assert [k for k, _ in ss.read_index(
        os.path.join(final, "Index.db"))] == [b"new"]
    other = os.path.join(base, "notes")
    os.makedirs(other)
    with open(os.path.join(other, "keep.txt"), "w") as f:
        f.write("not a table")
    with pytest.raises(OSError):
        ss.write_sstable([(b"k", [(b"c", 0, 0, 0, 1, b"v")])], other)
    assert os.listdir(other) == ["keep.txt"]
    shutil.rmtree(base)


def test_write_sstable_that_fails_leaves_no_readable_table(spark):
    """write_sstable commits like every writer: a call that raises after
    its first partition reached Data.db (the second has no value bytes)
    leaves only the dot-prefixed sibling, which no reader accepts."""
    base = _tmpdir()
    out = os.path.join(base, "t")
    with pytest.raises(TypeError):
        ss.write_sstable([(b"k1", [(b"c", 0, 0, 0, 1, b"v")]),
                          (b"k2", [(b"c", 0, 0, 0, 2, None)])], out)
    assert os.listdir(base) == [".tmp-t"]
    assert os.path.getsize(os.path.join(base, ".tmp-t", "Data.db")) > 0
    assert ss._table_subdirs(base) == []
    with pytest.raises(ValueError, match="no Data.db"):
        ss._resolve_table_dirs(base)
    with pytest.raises(ValueError, match="no Data.db"):
        ss._resolve_table_dirs(out)
    with pytest.raises(Exception, match="no Data.db"):
        ss.scan_sstable(spark, base).collect()
    shutil.rmtree(base)


def test_distributed_write_task_that_fails_leaves_no_readable_shard(spark):
    """A write_sstable_distributed task that raises after adding a
    partition to its Data.db (the shard's second partition has an
    unknown atom kind) leaves only its dot-prefixed temp directory:
    nothing under the output directory is listed, resolved or scanned."""
    base = _tmpdir()
    out = os.path.join(base, "out")
    cells = spark.createDataFrame(
        [("k1", "c", "normal", None, None, 1, "v"),
         ("k2", "c", "bogus", None, None, 2, "v")], ss.SSTABLE_SCHEMA)
    with pytest.raises(Exception, match="'bogus' is not a recognized"):
        ss.write_sstable_distributed(cells, out, shards=1)
    left = os.listdir(out)
    assert left and all(d.startswith(".tmp-shard=00000.") for d in left)
    assert os.path.getsize(os.path.join(out, left[0], "Data.db")) > 0
    assert ss._table_subdirs(out) == []
    with pytest.raises(ValueError, match="no Data.db"):
        ss._resolve_table_dirs(out)
    with pytest.raises(Exception, match="no Data.db"):
        ss.scan_sstable(spark, out).collect()
    shutil.rmtree(base)


def test_missing_path_resolves_to_the_no_data_error(spark):
    """A path that does not exist is reported as one that holds no table,
    by the same ValueError, not by the listing's FileNotFoundError."""
    missing = os.path.join(_tmpdir(), "absent")
    with pytest.raises(ValueError, match=f"no Data.db under {missing}"):
        ss._resolve_table_dirs(missing)
    with pytest.raises(Exception, match="no Data.db"):
        ss.scan_sstable(spark, missing).collect()


_NULL_FIELD_ROWS = [
    (("k", "c", "normal", None, None, 1, None), "'k': normal value is NULL"),
    (("k", None, "expiring", 60, 9, 1, "v"),
     "'k': expiring cell name is NULL"),
    (("k", "c", "counter", None, 0, 1, None), "'k': counter value is NULL"),
    (("k", "a", "range_tombstone", None, 9, 1, None),
     "'k': range_tombstone value is NULL"),
    ((None, "c", "normal", None, None, 1, "v"),
     "None: partition key is NULL"),
    (("k", "c", "bogus", None, None, 1, "v"),
     "'bogus' is not a recognized"),
]


@pytest.mark.parametrize("row, match", _NULL_FIELD_ROWS)
def test_rows_the_format_cannot_hold_fail_loud(spark, row, match):
    """The native format has no NULL pk, cell name or value: such a row,
    or one of an unknown kind, fails the distributed write and
    compact_atoms with a ValueError naming the pk and the field (it is
    never written as the bytes b"None"). The rows beside it hold the
    NULLs the format defines: a tombstone's value and a partition
    tombstone's cell."""
    from cassandra_ttl_remover_spark.operators.compact import compact_atoms

    ok = [("k", None, "partition_tombstone", None, 9, 1, None),
          ("k", "t", "tombstone", None, 9, 2, None)]
    cells = spark.createDataFrame([*ok, row], ss.SSTABLE_SCHEMA)
    base = _tmpdir()
    with pytest.raises(Exception, match=match):
        ss.write_sstable_distributed(cells, os.path.join(base, "out"),
                                     shards=1)
    with pytest.raises(Exception, match=match):
        compact_atoms(cells, gc_grace_us=0, now_us=0).collect()
    shutil.rmtree(base)


def test_distributed_write_removes_failed_attempts_temp_dirs(tmp_path):
    """With task retries, an attempt that raises after writing its
    shard's Data.db leaves a temp directory; once the retry commits and
    the job succeeds, the write removes it, so out_dir holds the shards
    alone. Runs in its own session: ``local[2,2]`` lets a task retry."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        from cassandra_ttl_remover_spark import get_spark
        from cassandra_ttl_remover_spark.sources import sstable as ss

        write_rows = ss._write_rows

        def fails_once(shard_dir, *args):
            from pyspark import TaskContext

            n = write_rows(shard_dir, *args)
            ctx = TaskContext.get()
            if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
                assert os.path.getsize(f"{{shard_dir}}/Data.db") > 0
                raise RuntimeError("attempt 0 fails after its Data.db")
            return n

        # the task closure picks the patched writer up when it is pickled
        ss._write_rows = fails_once
        spark = get_spark("retried-shard", master="local[2,2]")
        cells = spark.createDataFrame(
            [(f"k{{i:03d}}", "c", "normal", None, None, i, "v")
             for i in range(100)], ss.SSTABLE_SCHEMA)
        report = ss.write_sstable_distributed(cells, {out!r}, shards=2)
        print(sorted(r.shard for r in report))
        print(sorted(os.listdir({out!r})))
        print(ss.scan_sstable(spark, {out!r}).count())
        spark.stop()
    """)
    proc = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                          env={**os.environ, "PYTHONPATH": ""},
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "attempt 0 fails after its Data.db" in proc.stderr
    shards = ["shard=00000", "shard=00001"]
    assert proc.stdout.splitlines() == [str(shards), str(shards), "100"]


def test_stream_never_plans_a_shard_without_toc(monkeypatch):
    """Polled while a distributed write's task adds each partition (its
    shard's Data.db open and growing), the stream source lists and plans
    only committed shards, each with its TOC.txt; the new shard appears
    once committed."""
    base = _tmpdir()
    ss.write_sstable([(b"a", [(b"c", 0, 0, 0, 1, b"v")])],
                     os.path.join(base, "shard=00000"))
    reader = ss._make_datasource_cls()({"path": base}).streamReader(None)
    listed = []
    add = ss._TableWriter.add

    def polling_add(self, *args):
        add(self, *args)
        end = reader.latestOffset()
        listed.append(end["shards"])
        for split in reader.partitions({"shards": []}, end):
            assert os.path.exists(os.path.join(
                os.path.dirname(split.data_path), "TOC.txt")), split.data_path

    monkeypatch.setattr(ss._TableWriter, "add", polling_add)
    rows = [(f"k{p}", "c", "normal", None, None, p, "v") for p in range(5)]
    ss._commit_table(os.path.join(base, ".tmp-shard=00001.0"),
                     os.path.join(base, "shard=00001"),
                     lambda tmp: ss._write_rows(tmp, iter(rows)))
    monkeypatch.undo()
    assert listed == [["shard=00000"]] * 5
    assert reader.latestOffset() == {"shards": ["shard=00000", "shard=00001"]}
    shutil.rmtree(base)


def test_distributed_write_orders_name_ties_range_tombstone_first(spark):
    """Two atoms with one name (a range-tombstone start equal to a cell
    name) are written in one order whatever order they arrive in: the
    range tombstone first, Cassandra's on-disk atom order, then the
    cell."""
    rt = ("k", "c1", "range_tombstone", None, 1_700_000_000, 10, "c5")
    cell = ("k", "c1", "normal", None, None, 20, "v")
    first = ("k", "c0", "normal", None, None, 5, "w")
    outs = []
    for rows in ([cell, first, rt], [rt, cell, first]):
        out = _tmpdir()
        ss.write_sstable_distributed(
            spark.createDataFrame(rows, ss.SSTABLE_SCHEMA).coalesce(1), out,
            shards=1)
        assert list(ss.scan_data_range(
            os.path.join(out, "shard=00000", "Data.db"), 0, 1 << 40)) == [
                first, rt, cell]
        outs.append(out)
    _assert_same_shards(*outs)
    for out in outs:
        shutil.rmtree(out)


def test_distributed_write_task_memory_does_not_grow_with_shard():
    """A write_sstable_distributed task (_write_rows over its sorted
    rows) holds one partition's rows: with partitions of the same size,
    4x more partitions per shard leave its traced peak within 64 KiB (a
    task that holds its shard grows by megabytes). Both Data.db exceed
    the 1 MiB digest read buffer, so that buffer is the same in both."""
    wt = 1_700_000_000_000_000
    base = _tmpdir()
    peaks = []
    for n in (700, 4 * 700):
        def rows():
            for p in range(n):
                yield (f"p{p:06d}", None, "partition_tombstone", None,
                       1_700_000_000, wt, None)
                for i in range(8):
                    yield (f"p{p:06d}", f"{i:06d}:c", "normal", None, None,
                           wt + i, "v" * 200)

        out = os.path.join(base, f"n{n}")
        peaks.append(_traced_peak(lambda: ss._write_rows(out, rows())))
        assert os.path.getsize(os.path.join(out, "Data.db")) > 1 << 20
        assert ss.read_stats(out)["n_partitions"] == n
    assert peaks[1] - peaks[0] < 64 << 10, peaks
    shutil.rmtree(base)


def test_strip_of_keys_out_of_order_fails_loud(capsys):
    """A table whose first two partitions, and Index.db entries, are out
    of key byte order is not copied into an unsorted output: the strip
    raises CorruptSSTableError naming its Data.db and the offset of the
    first partition out of order, and the CLI (8 splits of 2 partitions)
    exits 1 with that path."""
    import re

    from cassandra_ttl_remover_spark.cli import main

    base = _tmpdir()
    ordered = os.path.join(base, "ordered")
    keys = [f"k{p:02d}".encode() for p in range(16)]
    ss.write_sstable(
        [(k, [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060,
               1_700_000_000_000_000, b"value")])
         for k in keys], ordered)
    with open(os.path.join(ordered, "Data.db"), "rb") as f:
        raw = f.read()
    entries = ss.read_index(os.path.join(ordered, "Index.db"))
    ends = [off for _, off in entries[1:]] + [len(raw)]
    record = {k: raw[off:end] for (k, off), end in zip(entries, ends)}
    src = os.path.join(base, "src")
    os.makedirs(src)
    data, index = b"", b""
    for k in [keys[1], keys[0], *keys[2:]]:
        index += struct.pack(">H", len(k)) + k + struct.pack(">q", len(data))
        data += record[k]
    data_path = os.path.join(src, "Data.db")
    with open(data_path, "wb") as f:
        f.write(data)
    with open(os.path.join(src, "Index.db"), "wb") as f:
        f.write(index)
    _, _, start, end = ss._split_specs(src, 1)[0]
    msg = re.escape(f"{data_path}: malformed partition at offset "
                    f"{len(record[keys[1]])} ")
    with pytest.raises(ss.CorruptSSTableError, match=msg + ".*does not sort"):
        ss._strip_split(os.path.join(base, "shard"), data_path, start, end)
    rc = main(["--input", src, "--output-path", os.path.join(base, "out"),
               "--input-format", "sstable", "--output-format", "sstable"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "CorruptSSTableError" in err and data_path in err
    shutil.rmtree(base)


def test_cli_exits_1_naming_data_file_when_a_worker_dies(monkeypatch,
                                                        capsys):
    """A strip worker that dies mid-split makes the CLI exit 1 with the
    exception type and the split's Data.db on stderr, and leaves no
    child process behind."""
    import signal

    from cassandra_ttl_remover_spark.cli import main

    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable([(b"k", [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060,
                               1_700_000_000_000_000, b"v")])], src)

    def die(*_):
        os.kill(os.getpid(), signal.SIGKILL)

    monkeypatch.setattr(ss, "_strip_split", die)
    before = _child_pids()
    rc = main(["--input", src, "--output-path", os.path.join(base, "out"),
               "--input-format", "sstable", "--output-format", "sstable"])
    assert rc == 1
    err = capsys.readouterr().err
    assert "error: BrokenProcessPool: " in err
    assert os.path.join(src, "Data.db") in err
    assert _child_pids() <= before
    shutil.rmtree(base)


@pytest.mark.parametrize("field", [
    "partition key", "cell name", "cell value", "RT end bound"])
def test_non_utf8_field_raises_error_naming_file_offset_and_field(spark,
                                                                  field):
    """The DataFrame scan's string columns take UTF-8 only: a key, cell
    name, value or range-tombstone bound that is not UTF-8 raises a
    ValueError naming the Data.db, the partition's offset and the field
    through scan_data_range, not a bare UnicodeDecodeError. GC and
    compaction carry the bytes (a Spark job and the local pool: with
    nothing to purge, every output file equals the input's), and
    merge_compact_sorted, whose columns are strings, raises a ValueError
    naming the partition key in hex and the field."""
    import re

    bad = b"\xff\xfe\x00\x01"
    wt = 1_700_000_000_000_000
    key, name, value, end = b"k1", b"c", b"v", b"d"
    if field == "partition key":
        key = bad
    elif field == "cell name":
        name = bad
    elif field == "cell value":
        value = bad
    else:
        end = bad
    mask = ss.RANGE_TOMBSTONE_MASK if field == "RT end bound" else 0
    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(
        [(b"a0", [(b"c", 0, 0, 0, wt, b"ok")]),
         (key, [(name, mask, 0, 1_700_000_000 if mask else 0, wt,
                 end if mask else value)])], src)
    data = os.path.join(src, "Data.db")
    (off,) = [o for k, o in ss.read_index(os.path.join(src, "Index.db"))
              if k == key]
    assert off > 0
    msg = re.escape(f"{data}: {field} of the partition at offset {off} "
                    "is not UTF-8")
    with pytest.raises(ValueError, match=msg):
        list(ss.scan_data_range(data, 0, os.path.getsize(data)))
    kw = dict(gc_grace_us=0, now_us=0, num_splits=1)
    for out, rewrite in (("gc-pool", ss.gc_rewrite_single),
                         ("compact-pool", ss.compact_rewrite),
                         ("gc-spark", ss.gc_rewrite_single)):
        out = os.path.join(base, out)
        rewrite(spark if out.endswith("spark") else None, src, out, **kw)
        [shard] = os.listdir(out)
        for f in os.listdir(src):
            with open(os.path.join(src, f), "rb") as a, \
                    open(os.path.join(out, shard, f), "rb") as b:
                assert a.read() == b.read(), (out, f)
    with pytest.raises(Exception) as e:
        ss.merge_compact_sorted(spark, src, **kw).collect()
    assert re.search(
        re.escape(f"ValueError: merged partition with key 0x{key.hex()}: "
                  f"{field} is not UTF-8"), str(e.value)), str(e.value)
    shutil.rmtree(base)


def _splice_unindexed_partition(src: str) -> int:
    """Splice a well-formed partition that Index.db does not list into
    ``src``'s Data.db, after its second indexed partition, and shift the
    later index offsets to match. Returns the offset of the indexed
    partition whose span now holds the unindexed bytes."""
    extra = src + "-extra"
    ss.write_sstable([(b"k2", [(b"c", 0, 0, 0, 2, b"phantom")])], extra)
    with open(os.path.join(extra, "Data.db"), "rb") as f:
        record = f.read()
    shutil.rmtree(extra)
    data_path = os.path.join(src, "Data.db")
    with open(data_path, "rb") as f:
        data = f.read()
    entries = ss.read_index(os.path.join(src, "Index.db"))
    at = entries[2][1]
    with open(data_path, "wb") as f:
        f.write(data[:at] + record + data[at:])
    with open(os.path.join(src, "Index.db"), "wb") as f:
        for k, off in entries:
            off += len(record) if off >= at else 0
            f.write(struct.pack(">H", len(k)) + k + struct.pack(">q", off))
    return entries[1][1]


def test_unindexed_partition_fails_the_scan_naming_file_and_offset(spark):
    """Bytes that Index.db does not list fail the scan as they fail the
    strip: a well-formed partition spliced between two indexed ones
    makes scan_data_range, scan_sstable and the strip raise
    CorruptSSTableError naming the Data.db and the offset of the indexed
    partition whose span holds it, instead of returning its rows."""
    import re

    base = _tmpdir()
    src = os.path.join(base, "src")
    ss.write_sstable(
        [(k, [(b"c", 0, 0, 0, 1, b"v")]) for k in (b"k0", b"k1", b"k3")],
        src)
    off = _splice_unindexed_partition(src)
    assert off > 0
    data = os.path.join(src, "Data.db")
    msg = re.escape(f"{data}: malformed partition at offset {off} ")
    with pytest.raises(ss.CorruptSSTableError, match=msg):
        list(ss.scan_data_range(data, 0, os.path.getsize(data)))
    with pytest.raises(Exception) as e:
        ss.scan_sstable(spark, src, num_splits=1).collect()
    assert "CorruptSSTableError" in str(e.value)
    assert re.search(msg, str(e.value))
    _, _, start, end = ss._split_specs(src, 1)[0]
    with pytest.raises(ss.CorruptSSTableError, match=msg):
        ss._strip_split(os.path.join(base, "shard"), data, start, end)
    shutil.rmtree(base)


def test_deep_scrub_and_droppable_census_read_byte_atoms(spark):
    """A valid table whose partition key is not UTF-8: the deep scrub
    parses byte atoms, so index_ok and stats_ok hold and the cells are
    counted, and droppable_census returns its counts."""
    wt = 1_700_000_000_000_000
    base = _tmpdir()
    ss.write_sstable(
        [(b"a0", [(b"c", 0, 0, 0, wt, b"v")]),
         (b"\xff\xfe\x00", [
             (b"a", ss.RANGE_TOMBSTONE_MASK, 0, 1_700_000_000, wt, b"b"),
             (b"c", ss.DELETION_MASK, 0, 0, wt + 1,
              struct.pack(">i", 1_700_000_000)),
             (b"d", ss.EXPIRATION_MASK, 60, 1_699_999_999, wt, b"x")],
          (1_700_000_000, wt - 1))],
        os.path.join(base, "g1"))
    [r] = ss.scrub_tables(spark, base, deep=True).collect()
    assert r.index_ok and r.stats_ok
    assert (r.n_partitions, r.n_cells) == (2, 4)
    rows = ss.droppable_census(spark, base, gc_grace_us=0,
                               now_us=wt).collect()
    assert [tuple(r) for r in rows] == [("g1", 5, 3, 2, 1)]
    shutil.rmtree(base)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _bname = st.binary(min_size=1, max_size=3)
    _bwt = st.integers(1, 6).map(lambda s: s * 1_000_000)
    _int32 = st.integers(-2**31, 2**31 - 1)

    @st.composite
    def _byte_generations(draw):
        """1-3 generations ``{key: (cells, deletion | None)}`` whose keys,
        cell names, values and range-tombstone bounds are arbitrary
        bytes. A range tombstone's end is fixed by its start, so two
        never share a start; cells are in name order, a cell before a
        range tombstone of the same name."""
        rt_end = draw(st.dictionaries(_bname, st.binary(max_size=3),
                                      max_size=3))
        gens = []
        for _ in range(draw(st.integers(1, 3))):
            parts = {}
            keys = draw(st.lists(st.binary(min_size=1, max_size=4),
                                 max_size=5, unique=True))
            for key in keys:
                cells = []
                for name in draw(st.lists(_bname, max_size=4, unique=True)):
                    kind = draw(st.sampled_from([
                        0, ss.EXPIRATION_MASK, ss.DELETION_MASK,
                        ss.COUNTER_MASK, ss.COUNTER_UPDATE_MASK]))
                    wt = draw(_bwt)
                    if kind == ss.DELETION_MASK:
                        cells.append((name, kind, 0, 0, wt,
                                      struct.pack(">i", draw(_int32))))
                    elif kind in (ss.COUNTER_MASK, ss.COUNTER_UPDATE_MASK):
                        tsd = draw(_int32) if kind == ss.COUNTER_MASK else 0
                        cells.append((name, kind, 0, tsd, wt, str(
                            draw(st.integers(-9, 99))).encode()))
                    else:
                        ttl, exp = ((draw(_int32), draw(_int32)) if kind
                                    else (0, 0))
                        cells.append((name, kind, ttl, exp, wt,
                                      draw(st.binary(max_size=4))))
                cells += [(s, ss.RANGE_TOMBSTONE_MASK, 0, draw(_int32),
                           draw(_bwt), e)
                          for s, e in rt_end.items() if draw(st.booleans())]
                cells.sort(key=lambda c: (c[0],
                                          c[1] == ss.RANGE_TOMBSTONE_MASK))
                deletion = draw(st.none() | st.tuples(
                    st.integers(0, 2**31 - 1), _bwt))
                parts[key] = (cells, deletion)
            gens.append(parts)
        return gens

    def _model_resolve(parts, thr):
        """The shadowing rule written from compact_atoms' spec over one
        key's ``(cells, deletion)`` partitions, straight to the cells and
        header deletion the rewrite writes (live -> normal, counters with
        timestampOfLastDelete 0, retained deletions with their
        writetime's second as localDeletionTime)."""
        def ldt(wt):
            return min(wt // 1_000_000, ss.INT32_MAX)

        pd = max((d[1] for _, d in parts if d is not None), default=None)
        rts, versions = {}, {}
        for cells, _ in parts:
            for name, mask, _, _, wt, val in cells:
                if mask == ss.RANGE_TOMBSTONE_MASK:
                    rts[(name, val)] = max(rts.get((name, val), wt), wt)
                else:
                    versions.setdefault(name, []).append((wt, mask, val))
        out = []
        for name, vs in versions.items():
            shadows = [m for (s, e), m in rts.items() if s <= name <= e]
            shadows += [] if pd is None else [pd]
            surv = [v for v in vs if all(v[0] > m for m in shadows)]
            counters = [(wt, int(val)) for wt, mask, val in surv
                        if mask in (ss.COUNTER_MASK, ss.COUNTER_UPDATE_MASK)]
            tombs = [wt for wt, mask, _ in surv if mask == ss.DELETION_MASK]
            if counters:
                live = [(wt, v) for wt, v in counters
                        if not tombs or wt > max(tombs)]
                if live:
                    out.append((name, ss.COUNTER_MASK, 0, 0,
                                max(wt for wt, _ in live),
                                str(sum(v for _, v in live)).encode()))
                    continue
                surv = [(max(tombs), ss.DELETION_MASK, b"")]
            if not surv:
                continue
            wt, mask, val = max(surv, key=lambda v: (
                v[0], v[1] == ss.DELETION_MASK,
                b"" if v[1] == ss.DELETION_MASK else v[2]))
            if mask != ss.DELETION_MASK:
                out.append((name, 0, 0, 0, wt, val))
            elif wt > thr:
                out.append((name, ss.DELETION_MASK, 0, 0, wt,
                            struct.pack(">i", ldt(wt))))
        out += [(s, ss.RANGE_TOMBSTONE_MASK, 0, ldt(m), m, e)
                for (s, e), m in rts.items()
                if (pd is None or m > pd) and m > thr]
        out.sort(key=lambda c: (c[0], c[1] == ss.RANGE_TOMBSTONE_MASK))
        deletion = (ldt(pd), pd) if pd is not None and pd > thr else None
        return out, deletion

    def _assert_tables_equal(got: str, want: str) -> None:
        assert sorted(os.listdir(got)) == sorted(os.listdir(want))
        for f in os.listdir(want):
            with open(os.path.join(got, f), "rb") as a, \
                    open(os.path.join(want, f), "rb") as b:
                assert a.read() == b.read(), (got, f)

    @pytest.mark.parametrize("rewrite", ["strip", "gc", "compact"])
    @given(gens=_byte_generations(), thr=st.integers(0, 7_000_000),
           splits=st.integers(1, 3))
    @settings(max_examples=20, deadline=None)
    def test_property_rewrites_carry_arbitrary_bytes(rewrite, gens, thr,
                                                     splits):
        """Tables whose keys, cell names, values and range-tombstone
        bounds are arbitrary bytes (not UTF-8 in general) go through the
        strip, GC and compaction on the local pool: every file of every
        shard equals write_sstable of the partitions an independent model
        expects (the strip turns expiring cells into normal ones; GC
        resolves each partition alone and compaction each key across the
        generations, by the one shadowing rule)."""
        base = _tmpdir()
        try:
            src = os.path.join(base, "src")
            for g, parts in enumerate(gens):
                ss.write_sstable([(k, c, d) for k, (c, d) in parts.items()],
                                 os.path.join(src, f"g{g}"))
            out = os.path.join(base, "out")
            dirs = ss._resolve_table_dirs(src)
            if rewrite == "compact":
                ss.compact_rewrite(None, src, out, gc_grace_us=0,
                                   now_us=thr, num_splits=splits)
                specs = [(f"shard={i:05d}", *rng) for i, rng
                         in enumerate(ss._merge_ranges(dirs, splits))]
                keys = sorted({k for parts in gens for k in parts})
                expect = {shard: [
                    (k, *_model_resolve(
                        [p[k] for p in gens if k in p], thr))
                    for k in keys if (lo is None or k >= lo)
                    and (hi is None or k < hi)] for shard, lo, hi in specs}
            else:
                if rewrite == "strip":
                    ss.rewrite_stripped(None, src, out, num_splits=splits)
                else:
                    ss.gc_rewrite_single(None, src, out, gc_grace_us=0,
                                         now_us=thr, num_splits=splits)
                expect = {}
                for shard, data, start, end in ss._split_specs(src, splits):
                    parts = gens[int(shard.split("_")[0][1:])]
                    expect[shard] = []
                    for k, off in ss.read_index(os.path.join(
                            os.path.dirname(data), "Index.db")):
                        if not start <= off < end:
                            continue
                        cells, deletion = parts[k]
                        if rewrite == "gc":
                            cells, deletion = _model_resolve([parts[k]],
                                                             thr)
                        else:
                            cells = [(n, 0, 0, 0, wt, v)
                                     if m == ss.EXPIRATION_MASK
                                     else (n, m, t, e, wt, v)
                                     for n, m, t, e, wt, v in cells]
                        expect[shard].append((k, cells, deletion))
            assert sorted(os.listdir(out)) == sorted(expect)
            for shard, parts in expect.items():
                want = os.path.join(base, "want", shard)
                ss.write_sstable([p for p in parts if p[1] or p[2]], want)
                _assert_tables_equal(os.path.join(out, shard), want)
        finally:
            shutil.rmtree(base, ignore_errors=True)
except ImportError:  # pragma: no cover - hypothesis always present in CI
    pass


def test_merge_compact_random_generations_match_ground_truth(spark):
    """Randomized (seeded) generations with overlapping keys, writetime
    TIES between live and tombstone versions, and uneven key coverage:
    the zero-shuffle merge must equal a direct dict ground truth (LWW,
    tombstone wins ties, purge past grace) for several split counts."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        base = _tmpdir()
        truth: dict[tuple, tuple] = {}
        for g in range(3):
            parts: dict[bytes, list] = {}
            for _ in range(rng.randint(30, 60)):
                pk = f"k{rng.randint(0, 19):03d}"
                cell = f"c{rng.randint(0, 4)}"
                wt = 1_000_000 + rng.randint(0, 9) * 100  # forced ties
                tomb = rng.random() < 0.3
                if tomb:
                    c = (cell.encode(), ss.DELETION_MASK, 0, 0, wt,
                         struct.pack(">i", 1))
                else:
                    c = (cell.encode(), 0, 0, 0, wt, b"v")
                parts.setdefault(pk.encode(), []).append(c)
                key = (pk, cell)
                cand = (wt, 1 if tomb else 0)
                if key not in truth or cand > truth[key]:
                    truth[key] = cand
            ss.write_sstable(parts.items(), os.path.join(base, f"g{g}"),
                             summary_interval=4)
        grace, now = 500, 1_001_000  # threshold between tie groups
        want = sorted(
            (pk, cell, wt, None if tomb else "v",
             "tombstone_retained" if tomb else "live")
            for (pk, cell), (wt, tomb) in truth.items()
            if not tomb or wt > now - grace
        )
        for n in (1, 5):
            got = sorted(
                tuple(r) for r in ss.merge_compact_sorted(
                    spark, base, gc_grace_us=grace, now_us=now,
                    num_splits=n).collect()
            )
            assert got == want, (seed, n)
        shutil.rmtree(base)


def test_compact_rewrite_roundtrip_and_digests(spark):
    """Major compaction e2e: merge -> re-encode per merge range. The
    rewritten output must (a) pass the digest/TOC sweep, (b) scan back
    to exactly the merged state mapped through the documented atom
    reconstruction, and (c) retain every deletion granularity under a
    wide grace window."""
    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms,
    )

    base = _tmpdir()
    ss.events_sstable_fixture_v2(spark, "/root/testdata/sf0.001",
                                 os.path.join(base, "gen1"),
                                 with_partition_deletes=True)
    ss.events_sstable_update_fixture_v2(spark, "/root/testdata/sf0.001",
                                        os.path.join(base, "gen2"))
    ss.events_sstable_delete_fixture_v2(spark, "/root/testdata/sf0.001",
                                        os.path.join(base, "gen3"))
    kw = dict(gc_grace_us=100 * 365 * 86400 * 1_000_000,
              now_us=1706745600 * 1_000_000)
    out = os.path.join(base, "compacted")
    report = ss.compact_rewrite(spark, base, out, num_splits=3, **kw)
    # one shard per merge range
    assert len(report) == len(ss._merge_ranges(
        ss._resolve_table_dirs(base), 3))
    checks = ss.verify_digests(spark, out).collect()
    assert checks and all(r.digest_ok and r.toc_ok for r in checks)

    # scan_sstable(base) sees gen1..gen3 only: the compacted output nests
    # one level deeper (out/shard=N), below _resolve_table_dirs' reach
    merged = {(r.pk, r.cell, r.status): (r.writetime, r.value)
              for r in compact_atoms(
                  ss.scan_sstable(spark, base, num_splits=4),
                  **kw).collect()}
    # compact_atoms and the rewrite run one resolver: hold it to the
    # DuckDB oracle over the same atoms
    oracle = _oracle_compact(ss.scan_sstable(spark, base).collect(), **kw)
    assert len(oracle) == len(merged)
    assert {(pk, c, st): (wt, v) for pk, c, wt, v, st in oracle} == merged
    # wide grace: every deletion granularity survives the merge
    assert {s for _, _, s in merged} == {
        "live", "counter_live", "tombstone_retained",
        "range_tombstone_retained", "partition_tombstone_retained"}
    back = {}
    kind_to_status = {"normal": "live", "counter": "counter_live",
                      "tombstone": "tombstone_retained",
                      "range_tombstone": "range_tombstone_retained",
                      "partition_tombstone":
                          "partition_tombstone_retained"}
    for r in ss.scan_sstable(spark, out).collect():
        back[(r.pk, r.cell, kind_to_status[r.kind])] = (
            r.writetime, r.value)
    assert back == merged
    shutil.rmtree(base)


def test_compact_rewrite_shards_are_merge_ranges(spark):
    """Each merge range is merged and encoded by one task into its own
    shard: one report row per range, shard key spans that do not
    overlap, and a scan-back equal to the merged state mapped through
    the one status->atom reconstruction."""
    base = _tmpdir()
    for g in range(3):
        ss.write_sstable(
            [(f"k{i:03d}".encode(),
              [(b"c", 0, 0, 0, 1_000_000 * (g + 1) + i, f"v{g}".encode())])
             for i in range(g, 60, g + 1)],
            os.path.join(base, f"g{g}"), summary_interval=4)
    out = os.path.join(base, "out")
    ranges = ss._merge_ranges(ss._resolve_table_dirs(base), 4)
    report = ss.compact_rewrite(spark, base, out, gc_grace_us=0, now_us=0,
                                num_splits=4)
    assert len(report) == len(ranges) > 1
    assert sorted(r.shard for r in report) == [
        f"shard={i:05d}" for i in range(len(ranges))]
    spans = []
    for r in sorted(report, key=lambda r: r.shard):
        keys = [k for k, _ in ss.read_index(
            os.path.join(out, r.shard, "Index.db"))]
        assert len(keys) == r.n_partitions > 0
        spans.append((keys[0], keys[-1]))
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))
    merged = sorted(ss.merge_compact_sorted(
        spark, base, gc_grace_us=0, now_us=0, num_splits=4).collect(),
        key=lambda r: r.pk)
    ref = os.path.join(base, "ref")
    ss.write_sstable(
        [(pk.encode(), *ss._resolved_partition(
            (r.cell and r.cell.encode(), r.writetime,
             r.value and r.value.encode(), r.status) for r in rows))
         for pk, rows in itertools.groupby(merged, key=lambda r: r.pk)],
        ref)
    want = sorted(tuple(r) for r in ss.scan_sstable(spark, ref).collect())
    got = sorted(tuple(r) for r in ss.scan_sstable(spark, out).collect())
    assert got == want and len(got) == 60
    shutil.rmtree(base)


def _model_compact(gens, *, grace, now):
    """Independent straight-line resolution of the one shadowing rule
    (written from compact_atoms' spec, not its code): gens is a list of
    {pk: (cells, deletion|None)} where cells are writer tuples. Returns
    the expected (pk, cell, writetime, value, status) set."""
    thr = now - grace
    pd_wt: dict = {}
    rts: dict = {}
    cell_atoms: dict = {}
    for parts in gens:
        for pk, (cells, deletion) in parts.items():
            if deletion is not None:
                _, mfda = deletion
                pd_wt[pk] = max(pd_wt.get(pk, mfda), mfda)
            for name, mask, ttl, exp, wt, val in cells:
                if mask & ss.RANGE_TOMBSTONE_MASK:
                    span = (name.decode(), val.decode())
                    d = rts.setdefault(pk, {})
                    d[span] = max(d.get(span, wt), wt)
                else:
                    kind = ("tombstone" if mask & ss.DELETION_MASK
                            else "counter" if mask & ss.COUNTER_MASK
                            else "counter_update"
                            if mask & ss.COUNTER_UPDATE_MASK else "live")
                    v = None if kind == "tombstone" else val.decode()
                    cell_atoms.setdefault((pk, name), []).append(
                        (wt, kind, v))
    want = set()
    for (pk, name), versions in cell_atoms.items():
        pw = pd_wt.get(pk)
        cover = [m for (s, e), m in rts.get(pk, {}).items()
                 if s <= name.decode() <= e]
        surv = [(wt, k, v) for wt, k, v in versions
                if (pw is None or wt > pw)
                and all(wt > m for m in cover)]
        if not surv:
            continue
        shards = [(wt, int(v)) for wt, k, v in surv
                  if k in ("counter", "counter_update")]
        tomb = [wt for wt, k, _ in surv if k == "tombstone"]
        if shards:
            live = [(wt, v) for wt, v in shards
                    if not tomb or wt > max(tomb)]
            if live:
                want.add((pk.decode(), name.decode(),
                          max(w for w, _ in live),
                          str(sum(v for _, v in live)), "counter_live"))
            elif max(tomb) > thr:
                want.add((pk.decode(), name.decode(), max(tomb), None,
                          "tombstone_retained"))
            continue
        wt, k, v = max(surv, key=lambda a: (a[0], a[1] == "tombstone",
                                            a[2] or ""))
        if k == "tombstone":
            if wt > thr:
                want.add((pk.decode(), name.decode(), wt, None,
                          "tombstone_retained"))
        else:
            want.add((pk.decode(), name.decode(), wt, v, "live"))
    for pk, spans in rts.items():
        pw = pd_wt.get(pk)
        for (s, e), m in spans.items():
            if (pw is None or m > pw) and m > thr:
                want.add((pk.decode(), s, m, e,
                          "range_tombstone_retained"))
    for pk, pwt in pd_wt.items():
        if pwt > thr:
            want.add((pk.decode(), None, pwt, None,
                      "partition_tombstone_retained"))
    return want


@pytest.mark.slow  # seal-gate tier (heavy equality/e2e sweep)
def test_full_atom_merge_random_generations_match_model(spark):
    """Randomized (seeded) generations over the FULL atom surface —
    normal/tombstone cells with forced writetime ties, counter shards
    and counter deletes, range tombstones with random bounds, partition
    deletions — must equal an independently-written straight-line model
    of the one shadowing rule, through BOTH plans and across split
    counts (encode -> plan -> distribute -> merge all exercised)."""
    import random

    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms,
    )

    for seed in (11, 42):
        rng = random.Random(seed)
        base = _tmpdir()
        gens = []
        for g in range(3):
            parts: dict = {}
            for _ in range(rng.randint(25, 45)):
                pk = f"k{rng.randint(0, 11):03d}".encode()
                cells, _ = parts.setdefault(pk, ({}, None))
                wt = 1_000_000 + rng.randint(0, 9) * 100
                r = rng.random()
                if r < 0.15:  # counter shard on a dedicated cnt cell
                    name = f"n{rng.randint(0, 2)}".encode()
                    cells[name] = (name, ss.COUNTER_MASK, 0, wt - 10, wt,
                                   str(rng.randint(1, 9)).encode())
                elif r < 0.25:  # range tombstone over random bounds
                    lo, hi = sorted((rng.randint(0, 5), rng.randint(0, 5)))
                    name = f"c{lo}".encode()
                    cells[name] = (name, ss.RANGE_TOMBSTONE_MASK, 0, 1,
                                   wt, f"c{hi}".encode())
                elif r < 0.45:  # cell tombstone
                    name = f"c{rng.randint(0, 5)}".encode()
                    cells[name] = (name, ss.DELETION_MASK, 0, 0, wt,
                                   struct.pack(">i", 1))
                else:  # live cell
                    name = f"c{rng.randint(0, 5)}".encode()
                    cells[name] = (name, 0, 0, 0, wt,
                                   f"v{rng.randint(0, 3)}".encode())
            out_parts = {}
            for pk, (cells, _) in parts.items():
                deletion = ((1, 1_000_000 + rng.randint(0, 9) * 100)
                            if rng.random() < 0.1 else None)
                out_parts[pk] = (sorted(cells.values()), deletion)
            gens.append(out_parts)
            ss.write_sstable(
                [(pk, cells, deletion) if deletion else (pk, cells)
                 for pk, (cells, deletion) in out_parts.items()],
                os.path.join(base, f"g{g}"), summary_interval=4)
        grace, now = 500, 1_001_000  # threshold inside the tie groups
        want = _model_compact(gens, grace=grace, now=now)
        kw = dict(gc_grace_us=grace, now_us=now)
        got_a = {tuple(r) for r in compact_atoms(
            ss.scan_sstable(spark, base, num_splits=4), **kw).collect()}
        assert got_a == want, f"compact_atoms diverged (seed {seed})"
        for n in (1, 5):
            got_b = {tuple(r) for r in ss.merge_compact_sorted(
                spark, base, num_splits=n, **kw).collect()}
            assert got_b == want, f"merge diverged (seed {seed}, {n})"
        shutil.rmtree(base)


def test_compaction_strategy_planners(spark):
    """STCS/TWCS planning over Statistics.db alone: exact bit-length
    size classes, integer-div time windows, min_threshold nomination,
    and the empty-table NULL-window path."""
    base = _tmpdir()
    mk = lambda name, parts: ss.write_sstable(parts, os.path.join(base, name))  # noqa: E731
    cell = lambda i, wt: (f"c{i:04d}".encode(), 0, 0, 0, wt, b"v")  # noqa: E731
    # two ~32-cell tables (class 5), two 7-cell tables (class 2), one empty
    mk("a1", [(b"k1", [cell(i, 1_700_000_000_000_000 + i)
                       for i in range(32)])])
    mk("a2", [(b"k1", [cell(i, 1_700_000_000_000_000 + i)
                       for i in range(33)])])
    mk("b1", [(b"k1", [cell(i, 1_705_000_000_000_000 + i)
                       for i in range(7)])])
    mk("b2", [(b"k1", [cell(i, 1_705_000_000_000_000 + i)
                       for i in range(7)])])
    mk("e0", [])
    got = {r.generation: (r.size_class, r.group_n, r.compact)
           for r in ss.plan_compaction_stcs(spark, base,
                                            min_threshold=2).collect()}
    assert got["a1"] == (5, 2, True) and got["a2"] == (5, 2, True)
    assert got["b1"] == (2, 2, True) and got["b2"] == (2, 2, True)
    assert got["e0"][0] == 0 and got["e0"][2] is False

    w = 1_000_000_000_000  # ~11.6 days in µs
    tw = {r.generation: (r.time_window, r.group_n, r.compact)
          for r in ss.plan_compaction_twcs(spark, base, window_us=w,
                                           min_threshold=2).collect()}
    assert tw["a1"] == (1700, 2, True) and tw["a2"] == (1700, 2, True)
    assert tw["b1"] == (1705, 2, True) and tw["b2"] == (1705, 2, True)
    assert tw["e0"] == (None, 0, False)
    shutil.rmtree(base)


def test_diff_replicas_identical_and_divergent(spark):
    """Repair digests: identical replicas match on every bucket;
    removing one partition from replica B flips exactly the buckets
    holding the removed keys, and row counts localize the loss."""
    base = _tmpdir()
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "ra"))
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "rb"))
    same = ss.diff_replicas(spark, os.path.join(base, "ra"),
                            os.path.join(base, "rb")).collect()
    assert same and all(r.match for r in same)
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "rc"),
                              where="user_id % 97 <> 0")
    diff = ss.diff_replicas(spark, os.path.join(base, "ra"),
                            os.path.join(base, "rc")).collect()
    bad = [r for r in diff if not r.match]
    assert bad and len(bad) < len(diff)
    assert all(r.n_rows_a > (r.n_rows_b or 0) for r in bad)
    shutil.rmtree(base)


def test_droppable_census_grace_window(spark):
    """Droppable counts respect the grace window: with now far in the
    future everything deleted/expired is droppable; with a 100-year
    grace nothing is."""
    base = _tmpdir()
    ss.events_sstable_fixture_v2(spark, "/root/testdata/sf0.001",
                                 os.path.join(base, "gen1"),
                                 with_partition_deletes=True)
    ss.events_sstable_delete_fixture_v2(spark, "/root/testdata/sf0.001",
                                        os.path.join(base, "gen3"))
    far = 4_000_000_000 * 1_000_000  # ~2096
    all_drop = {r.generation: r for r in ss.droppable_census(
        spark, base, gc_grace_us=0, now_us=far).collect()}
    assert all(r.n_droppable_deletes == r.n_deletes
               for r in all_drop.values())
    assert all_drop["gen1"].n_expired > 0  # every TTL has lapsed by 2096
    none_drop = {r.generation: r for r in ss.droppable_census(
        spark, base, gc_grace_us=100 * 365 * 86400 * 1_000_000,
        now_us=1706745600 * 1_000_000).collect()}
    assert all(r.n_droppable_deletes == 0 and r.n_expired == 0
               for r in none_drop.values())
    assert none_drop["gen3"].n_deletes > 0  # deletes exist, just retained
    shutil.rmtree(base)


def test_summary_window_equals_bisect_window(spark):
    """The streaming O(1)-memory summary-window pass must resolve the
    Index.db byte window a bisect over the whole sample list resolves,
    and the walk over that window must hold the whole-index reference's
    run and the entry that ends it, for random layouts and probes —
    including open ends, probes before the first / after the last key,
    and exact sample-boundary hits."""
    import bisect
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        base = _tmpdir()
        n = rng.randint(40, 120)
        keys = sorted({f"k{rng.randint(0, 500):04d}".encode()
                       for _ in range(n)})
        ss.write_sstable(
            [(k, [(b"c", 0, 0, 0, 1, b"v")]) for k in keys],
            base, summary_interval=rng.choice((2, 4, 7)))
        samples = list(ss._iter_summary(base))
        sample_keys = [k for k, _, _ in samples]
        full = ss.read_index(os.path.join(base, "Index.db"))
        size = ss._data_size(base)
        probes = [(None, None), (None, keys[0]), (keys[-1], None),
                  (b"k0000", b"zzzz")]
        for _ in range(25):
            a = f"k{rng.randint(0, 500):04d}".encode()
            b = f"k{rng.randint(0, 500):04d}".encode()
            probes.append((min(a, b), max(a, b)))
        # exact sample-boundary probes
        for k, _, _ in samples[:3]:
            probes.append((k, k))
            probes.append((k, keys[-1]))
        for start, stop in probes:
            lo_i = (0 if start is None else
                    max(0, bisect.bisect_right(sample_keys, start) - 1))
            hi_i = (len(samples) if stop is None else
                    min(len(samples),
                        bisect.bisect_left(sample_keys, stop) + 1))
            ix_start, ix_end = ss._summary_window(base, start, stop)
            assert (ix_start, ix_end) == (
                samples[lo_i][1],
                samples[hi_i][1] if hi_i < len(samples) else None), (
                seed, start, stop)
            win = [(k, off) for k, _, off in
                   ss._iter_index_with_offsets(base, ix_start, ix_end)]
            i = full.index(win[0])
            assert win == full[i:i + len(win)], (seed, start, stop)
            lo, bs, be = ss.select_index_range(full, size, start, stop)
            hi = (len(full) if stop is None
                  else bisect.bisect_left([k for k, _ in full], stop))
            assert i <= lo and i + len(win) >= min(hi + 1, len(full)), (
                seed, start, stop)
            assert ss._key_byte_range(base, start, stop) == (bs, be)
        shutil.rmtree(base)


def test_merge_raises_on_truncated_generation(spark):
    """Quarantine convention under the k-way merge: a generation whose
    Data.db is truncated mid-record must fail the job with a descriptive
    CorruptSSTableError — never emit a silently partial merge."""
    import pytest

    base = _tmpdir()
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "gen1"),
                              where="user_id % 2 = 0")
    ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                              os.path.join(base, "gen2"),
                              where="user_id % 2 = 1")
    p = os.path.join(base, "gen2", "Data.db")
    with open(p, "r+b") as f:
        f.truncate(os.path.getsize(p) - 7)
    with pytest.raises(Exception, match="truncated|Corrupt"):
        ss.merge_compact_sorted(
            spark, base, gc_grace_us=0, now_us=0, num_splits=2).collect()
    shutil.rmtree(base)


def test_gc_single_table_equals_compact_rewrite_on_one_generation(spark):
    """Cross-dataflow equality on a single generation: the zero-shuffle
    within-table GC rewrite and the full compaction rewrite must produce
    byte-identical scan-back rows (same _resolve_atoms semantics, same
    reconstruction mapping), and the GC output is digest-clean."""
    base = _tmpdir()
    ss.events_sstable_fixture_v2(spark, "/root/testdata/sf0.001",
                                 os.path.join(base, "gen1"),
                                 with_partition_deletes=True)
    kw = dict(gc_grace_us=10 * 86400 * 1_000_000,
              now_us=1706745600 * 1_000_000)
    ss.gc_rewrite_single(spark, os.path.join(base, "gen1"),
                         os.path.join(base, "gc"), **kw)
    ss.compact_rewrite(spark, os.path.join(base, "gen1"),
                       os.path.join(base, "cr"), **kw)
    a = sorted(tuple(r) for r in
               ss.scan_sstable(spark, os.path.join(base, "gc")).collect())
    b = sorted(tuple(r) for r in
               ss.scan_sstable(spark, os.path.join(base, "cr")).collect())
    assert a and a == b
    checks = ss.verify_digests(spark, os.path.join(base, "gc")).collect()
    assert checks and all(r.digest_ok and r.toc_ok for r in checks)
    shutil.rmtree(base)
