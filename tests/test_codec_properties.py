"""Property tests for the pure-Python codec pairs (PNG/DEFLATE+filters,
GIF/LZW): any byte string must round-trip exactly through encode->decode,
and the decoded statistics must equal direct computation on the source.
These are driver-side pure functions — no Spark session needed — so
hypothesis can hammer them cheaply."""

import math

import pytest

pytest.importorskip("hypothesis")

from hypothesis import given, settings, strategies as st  # noqa: E402

from cassandra_ttl_remover_spark.operators.multimodal import (  # noqa: E402
    _lzw_compress,
    _lzw_decompress,
    _parse_gif,
    _parse_png,
    _text_to_gif_bytes,
    _text_to_png_bytes,
)

# two-tier suite (pytest.ini): property/cross-engine sweeps are the
# seal gate, not the per-commit gate
pytestmark = pytest.mark.slow

payloads = st.binary(min_size=0, max_size=4000)


@settings(max_examples=60, deadline=None)
@given(payloads)
def test_lzw_roundtrip_property(data):
    assert _lzw_decompress(_lzw_compress(data)) == data


def test_lzw_eoi_width_boundary():
    """EOI width parity at the decoder's growth point. The decoder adds a
    dictionary entry on the FINAL data code (the encoder has no matching
    add), so when a segment has exactly 2^w - eoi - 1 adds the decoder
    grows width before reading EOI; the encoder must emit EOI one bit
    wider to match. Pre-fix this raised 'LZW stream truncated before EOI'
    whenever the stream ended on a byte boundary."""
    # pinned pre-fix failure (min_code_size=2, found by fuzzing)
    data = bytes.fromhex("020101020201010000030301")
    assert _lzw_decompress(_lzw_compress(data, 2), 2) == data
    # the ADVICE-named case at min_code_size=8: exactly 254 adds since
    # the initial CLEAR puts next_code at 512 == 2^9 when EOI is emitted
    d2 = bytes(range(255))
    assert _lzw_decompress(_lzw_compress(d2, 8), 8) == d2


@settings(max_examples=80, deadline=None)
@given(st.integers(2, 5), st.data())
def test_lzw_roundtrip_small_alphabet_property(mcs, data):
    """Small alphabets + small min_code_size cross the width-growth
    boundaries (2^w - eoi - 1 adds) orders of magnitude faster than
    8-bit payloads, so this is the variant that actually exercises the
    EOI parity path and mid-stream dictionary resets."""
    raw = bytes(
        data.draw(st.lists(st.integers(0, (1 << mcs) - 1), max_size=300))
    )
    assert _lzw_decompress(_lzw_compress(raw, mcs), mcs) == raw


@settings(max_examples=40, deadline=None)
@given(payloads, st.sampled_from([1, 3, 8, 32, 101]))
def test_png_roundtrip_property(data, width):
    w, h, n, s, mx = _parse_png(_text_to_png_bytes(data, width))
    assert w == width
    assert h == max(1, math.ceil(len(data) / width))
    assert n == w * h
    assert s == sum(data)
    assert mx == (max(data) if data else 0)


@settings(max_examples=40, deadline=None)
@given(payloads, st.sampled_from([1, 8, 32, 64]))
def test_gif_roundtrip_property(data, width):
    w, h, n, s, mx = _parse_gif(_text_to_gif_bytes(data, width))
    assert (w, n) == (width, w * h)
    assert h == max(1, math.ceil(len(data) / width))
    assert s == sum(data)
    assert mx == (max(data) if data else 0)


# ---------------------------------------------------------------------------
# JPEG baseline codec
# ---------------------------------------------------------------------------

def test_jpeg_roundtrip_exact_random():
    """Flat-block JPEGs reconstruct exact pixel statistics for arbitrary
    printable payloads and widths (entropy layer is lossless; DC-only
    IDCT error ~1e-13 << 0.5 rounding margin)."""
    import math
    import random

    from cassandra_ttl_remover_spark.operators.multimodal import (
        _parse_jpeg, _text_to_jpeg_bytes)

    rng = random.Random(1234)
    for _ in range(40):
        n = rng.randint(0, 400)
        data = bytes(rng.randint(32, 126) for _ in range(n))
        w = rng.choice([16, 24, 64])
        width, height, npx, s, mx = _parse_jpeg(_text_to_jpeg_bytes(data, w))
        rows = max(1, math.ceil(len(data) / (w // 8)))
        assert (width, height, npx) == (w, 8 * rows, w * 8 * rows)
        assert s == 64 * sum(data)
        assert mx == (max(data) if data else 0)


def test_jpeg_stuffing_and_padding_edges():
    """Payload engineered to produce 0xFF entropy bytes exercises the
    stuff/unstuff path; empty payload yields one zero padding block."""
    from cassandra_ttl_remover_spark.operators.multimodal import (
        _parse_jpeg, _text_to_jpeg_bytes)

    blob = _text_to_jpeg_bytes(bytes([126] * 500), 16)
    assert _parse_jpeg(blob)[3] == 64 * 126 * 500
    width, height, npx, s, mx = _parse_jpeg(_text_to_jpeg_bytes(b"", 32))
    assert (width, height, s, mx) == (32, 8, 0, 0)


def test_jpeg_malformed_raises():
    import pytest

    from cassandra_ttl_remover_spark.operators.multimodal import (
        _parse_jpeg, _text_to_jpeg_bytes)

    with pytest.raises(ValueError):
        _parse_jpeg(b"\x00\x01notajpeg")
    blob = _text_to_jpeg_bytes(b"hello world jpeg", 16)
    with pytest.raises(ValueError):
        _parse_jpeg(blob[:len(blob) - 6])  # truncated entropy stream


def test_jpeg_general_ac_path():
    """The decoder's AC run/size + EXTEND + zigzag placement path (which
    the flat-block encoder never emits): hand-build a one-block stream
    with a negative DC and one AC coefficient and check the decoded
    pixels against an independent IDCT."""
    import struct

    import numpy as np

    from cassandra_ttl_remover_spark.operators.multimodal import (
        _JPEG_ZZ, _huff_codes, _JpegBitWriter, _parse_jpeg)

    # tables: DC cats 0..11 at 4 bits; AC needs EOB (0x00) and (run=1,
    # size=2) = 0x12 -> two 2-bit codes
    dc_bits, dc_vals = [0, 0, 0, 12] + [0] * 12, list(range(12))
    ac_bits, ac_vals = [0, 2] + [0] * 14, [0x00, 0x12]
    quant_nat = [[8 if (r, c) == (0, 0) else 16 for c in range(8)]
                 for r in range(8)]

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(quant_nat[r][c] for r, c in _JPEG_ZZ))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    dht = seg(0xFFC4, b"\x00" + bytes(dc_bits) + bytes(dc_vals)
              + b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    sos = seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dcc, acc = _huff_codes(dc_bits, dc_vals), _huff_codes(ac_bits, ac_vals)
    w = _JpegBitWriter()
    # DC diff = -5 (category 3, bits = one's complement 010)
    code, ln = dcc[3]
    w.put(code, ln)
    w.put((-5) + (1 << 3) - 1, 3)
    # AC: skip 1, size 2, value -2 at zigzag k=2
    code, ln = acc[0x12]
    w.put(code, ln)
    w.put((-2) + (1 << 2) - 1, 2)
    code, ln = acc[0x00]
    w.put(code, ln)
    blob = b"\xff\xd8" + dqt + sof + dht + sos + w.flush() + b"\xff\xd9"

    width, height, npx, s, mx = _parse_jpeg(blob)
    # independent reconstruction
    coef = np.zeros((8, 8))
    coef[0, 0] = -5 * 8
    r, c = _JPEG_ZZ[2]
    coef[r, c] = -2 * 16
    n = np.arange(8)
    cm = np.cos((2 * n[:, None] + 1) * n[None, :] * np.pi / 16) / 2.0
    cm[:, 0] /= np.sqrt(2.0)
    img = np.clip(np.rint(cm @ coef @ cm.T + 128.0), 0, 255)
    assert (width, height) == (8, 8)
    assert s == int(img.sum()) and mx == int(img.max())


# ---------------------------------------------------------------------------
# G.711 mu-law companding
# ---------------------------------------------------------------------------

def test_ulaw_roundtrip_all_int16():
    """Quantization error bounded by the segment step for EVERY int16
    sample; decode(encode(x)) is idempotent under re-encoding."""
    from cassandra_ttl_remover_spark.operators.multimodal import (
        _ulaw_decode, _ulaw_encode)

    for s in range(-32768, 32768, 97):  # dense stride sweep
        d = _ulaw_decode(_ulaw_encode(s))
        m = min(abs(s), 32635) + 132
        step = 1 << (m.bit_length() - 8 + 3)
        assert abs(d - min(max(s, -32635), 32635)) <= step
        assert _ulaw_decode(_ulaw_encode(d)) == d  # quantizer fixpoint


def test_ulaw_codes_cover_all_bytes():
    """The encoder reaches a wide code range and 0 maps to 0xFF (G.711)."""
    from cassandra_ttl_remover_spark.operators.multimodal import _ulaw_encode

    assert _ulaw_encode(0) == 0xFF
    codes = {_ulaw_encode(s) for s in range(-32768, 32768, 13)}
    assert len(codes) > 200


def test_wav_ulaw_malformed_raises():
    import pytest

    from cassandra_ttl_remover_spark.operators.multimodal import (
        _parse_wav_ulaw, _text_to_wav_ulaw_bytes)

    blob = _text_to_wav_ulaw_bytes(b"some audio text", 8000)
    with pytest.raises(ValueError):
        _parse_wav_ulaw(blob[:20])  # truncated chunk
    with pytest.raises(ValueError):
        _parse_wav_ulaw(b"RIFX" + blob[4:])


def _find_reset_position(data: bytes, mcs: int = 8) -> int | None:
    """Shadow of _lzw_compress's dictionary bookkeeping: returns the index
    i such that processing data[:i] leaves the encoder JUST past a
    mid-stream CLEAR (next_code reset), or None if no reset occurs."""
    clear = 1 << mcs
    table = {bytes([c]): c for c in range(clear)}
    next_code = clear + 2
    cur = b""
    for i, b in enumerate(data):
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        if next_code == 4096:
            return i + 1  # reset fired while consuming data[i]
        table[nxt] = next_code
        next_code += 1
        cur = bytes([b])
    return None


def test_lzw_eoi_width_boundary_after_midstream_reset():
    """The ADVICE-named regression guard: a segment with exactly 254 adds
    AFTER a mid-stream dictionary reset (next_code hits 4096 -> CLEAR)
    puts next_code at 512 == 2^9 when EOI is emitted, so the decoder
    grows width before reading EOI and the encoder must mirror it — the
    same parity as the initial-segment case, but on the reset path. The
    prefix is deterministic pseudo-random data long enough to burn
    through the first 4096-entry dictionary; the suffix is 254
    never-repeating two-byte sequences (one add each)."""
    import random

    rng = random.Random(20260815)
    prefix = bytes(rng.randrange(256) for _ in range(12000))
    cut = _find_reset_position(prefix)
    assert cut is not None, "prefix too short to trigger a dict reset"
    # after the reset, alternate a two-symbol pattern never seen as pairs
    # in a FRESH table: each byte is one add, so 254 bytes = 254 adds
    suffix = bytes((i % 2) for i in range(254))
    for extra in (0, -1, 1):  # the exact edge and both neighbors
        data = prefix[:cut] + suffix[: 254 + extra]
        assert _lzw_decompress(_lzw_compress(data, 8), 8) == data
    # and the same edge at every small min_code_size (reset arrives
    # faster nowhere — 4096 is absolute — but width parity differs)
    for mcs in (2, 4):
        raw = bytes(rng.randrange(1 << mcs) for _ in range(14000))
        assert _lzw_decompress(_lzw_compress(raw, mcs), mcs) == raw


# ---------------------------------------------------------------------------
# SSTable sidecar properties (Filter.db / Summary.db / Statistics.db)
# ---------------------------------------------------------------------------

_keysets = st.lists(
    st.binary(min_size=1, max_size=12).filter(lambda b: b"\x00" not in b),
    min_size=1, max_size=120, unique=True,
)


@given(_keysets, st.data())
@settings(max_examples=25, deadline=None)
def test_sidecar_properties_roundtrip(keys, data):
    """For ANY key set and ANY probe: (1) the bloom never false-negates
    a written key; (2) the planner's summary-windowed index walk selects
    exactly the byte run the whole-index read selects; (3) Statistics.db
    bounds equal the true min/max of the written writetimes."""
    import os
    import shutil
    import tempfile
    import uuid

    from cassandra_ttl_remover_spark.sources import sstable as ss

    out = os.path.join(tempfile.gettempdir(),
                       f"sstp_{uuid.uuid4().hex[:8]}")
    wts = {k: i * 7 + 3 for i, k in enumerate(keys)}
    interval = data.draw(st.sampled_from([1, 2, 8, 64]))
    ss.write_sstable(
        [(k, [(b"c", 0, 0, 0, wts[k], b"v")]) for k in keys],
        out, summary_interval=interval,
    )
    try:
        assert all(ss.bloom_might_contain(out, k) for k in keys)

        full = ss.read_index(os.path.join(out, "Index.db"))
        size = ss._data_size(out)
        probe = data.draw(st.sampled_from(sorted(keys)))
        lo_choices = [None, probe, probe + b"\x00", probe[:1]]
        hi_choices = [None, probe, probe + b"\x00", probe[:1] + b"\xff"]
        ks = data.draw(st.sampled_from(lo_choices))
        kp = data.draw(st.sampled_from(hi_choices))
        _, bs, be = ss.select_index_range(full, size, ks, kp)
        assert ss._key_byte_range(out, ks, kp) == (bs, be), (interval, ks, kp)
        splits = ss._plan_table_splits(out, 3, ks, kp)
        assert ((splits[0][1], splits[-1][2]) if splits else (0, 0)) == (
            bs, be), (interval, ks, kp)

        stc = ss.read_stats(out)
        assert stc["n_partitions"] == len(keys)
        assert stc["min_writetime"] == min(wts.values())
        assert stc["max_writetime"] == max(wts.values())
    finally:
        shutil.rmtree(out)


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_column_index_slice_equals_filter_property(data):
    """Slice == filter for ARBITRARY partitions, cell kinds, range
    tombstones, block densities, and slice bounds — pure-Python path
    (plan_partition_slice + _iter_slice_one_dir), no Spark session. Expected
    set: cell atoms in [a, b) plus every RT whose range intersects
    [a, b)."""
    import os
    import shutil
    import struct as _struct
    import tempfile
    import uuid

    from cassandra_ttl_remover_spark.sources import sstable as ss

    n = data.draw(st.integers(5, 60))
    every = data.draw(st.sampled_from([1, 2, 3, 8, 64]))
    cells = []
    for i in range(n):
        name = f"{i:04d}:c".encode()
        kind = data.draw(st.sampled_from(
            ["normal", "expiring", "tombstone", "rt"]))
        wt = 1_700_000_000_000_000 + i
        if kind == "rt":
            end = data.draw(st.integers(i, n + 3))
            cells.append((name, ss.RANGE_TOMBSTONE_MASK, 0,
                          1_700_000_000, wt, f"{end:04d}:c".encode()))
        elif kind == "expiring":
            cells.append((name, ss.EXPIRATION_MASK, 600,
                          1_700_000_600, wt, f"v{i}".encode()))
        elif kind == "tombstone":
            cells.append((name, ss.DELETION_MASK, 0, 0, wt,
                          _struct.pack(">i", 1_700_000_000)))
        else:
            cells.append((name, 0, 0, 0, wt, f"v{i}".encode()))
    out = os.path.join(tempfile.gettempdir(),
                       f"prop_ci_{uuid.uuid4().hex[:8]}")
    try:
        ss.write_sstable([(b"p", cells)], out, colindex_every=every)
        full = list(ss.scan_data_range(
            os.path.join(out, "Data.db"), 0, 10 ** 12))
        lo = data.draw(st.integers(0, n))
        hi = data.draw(st.integers(lo, n + 1))
        a, b = f"{lo:04d}:", f"{hi:04d}:z"
        want = sorted(
            r for r in full
            if (r[2] != "range_tombstone" and a <= r[1] < b)
            or (r[2] == "range_tombstone" and r[1] < b and r[6] >= a)
        )
        plan = ss.plan_partition_slice(out, b"p", a.encode())
        assert plan is not None
        got = sorted(ss._iter_slice_one_dir(
            out, plan[0], plan[1], plan[2], "p", a, b))
        assert got == want, (every, lo, hi)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# compact_atoms oracle vs the independent spec model (no Spark: pure
# DuckDB vs straight-line Python, hundreds of examples)
# ---------------------------------------------------------------------------

# cell-name alphabets OVERLAP deliberately: tombstones land on counter
# cells ('n') so the counter-delete shadowing branch is exercised, and
# counter_update shards mix with counter shards on the same keys
_atom = st.one_of(
    st.tuples(st.just("normal"), st.sampled_from("pq"),
              st.sampled_from("cdef"), st.integers(0, 9),
              st.sampled_from("xyz")),
    st.tuples(st.just("tombstone"), st.sampled_from("pq"),
              st.sampled_from("cdefn"), st.integers(0, 9), st.none()),
    st.tuples(st.just("counter"), st.sampled_from("pq"),
              st.sampled_from("nm"), st.integers(0, 9),
              st.integers(1, 9).map(str)),
    st.tuples(st.just("counter_update"), st.sampled_from("pq"),
              st.sampled_from("nm"), st.integers(0, 9),
              st.integers(1, 9).map(str)),
    st.tuples(st.just("range_tombstone"), st.sampled_from("pq"),
              st.sampled_from("cd"), st.integers(0, 9),
              st.sampled_from("ef")),
    st.tuples(st.just("partition_tombstone"), st.sampled_from("pq"),
              st.none(), st.integers(0, 9), st.none()),
)


def _spec_model(atoms, thr):
    """compact_atoms' documented semantics, written straight-line from
    the spec (the one shadowing rule; ties die; additive counters;
    uniform retain/purge) — independent of both engines."""
    pd_wt, rts, cells = {}, {}, {}
    for kind, pk, cell, wt, val in atoms:
        if kind == "partition_tombstone":
            pd_wt[pk] = max(pd_wt.get(pk, wt), wt)
        elif kind == "range_tombstone":
            d = rts.setdefault(pk, {})
            d[(cell, val)] = max(d.get((cell, val), wt), wt)
        else:
            cells.setdefault((pk, cell), []).append((wt, kind, val))
    out = set()
    for (pk, cell), vs in cells.items():
        pw = pd_wt.get(pk)
        cover = [m for (s, e), m in rts.get(pk, {}).items()
                 if s <= cell <= e]
        surv = [(wt, k, v) for wt, k, v in vs
                if (pw is None or wt > pw) and all(wt > m for m in cover)]
        if not surv:
            continue
        shards = [(wt, int(v)) for wt, k, v in surv
                  if k in ("counter", "counter_update")]
        tomb = [wt for wt, k, _ in surv if k == "tombstone"]
        if shards:
            live = [(wt, v) for wt, v in shards
                    if not tomb or wt > max(tomb)]
            if live:
                out.add((pk, cell, max(w for w, _ in live),
                         str(sum(v for _, v in live)), "counter_live"))
            elif max(tomb) > thr:
                out.add((pk, cell, max(tomb), None, "tombstone_retained"))
            continue
        wt, k, v = max(surv, key=lambda a: (a[0], a[1] == "tombstone",
                                            a[2] or ""))
        if k == "tombstone":
            if wt > thr:
                out.add((pk, cell, wt, None, "tombstone_retained"))
        else:
            out.add((pk, cell, wt, v, "live"))
    for pk, spans in rts.items():
        pw = pd_wt.get(pk)
        for (s, e), m in spans.items():
            if (pw is None or m > pw) and m > thr:
                out.add((pk, s, m, e, "range_tombstone_retained"))
    for pk, w in pd_wt.items():
        if w > thr:
            out.add((pk, None, w, None, "partition_tombstone_retained"))
    return out


@settings(max_examples=150, deadline=None)
@given(st.lists(_atom, min_size=1, max_size=25), st.integers(0, 10))
def test_compact_atoms_oracle_matches_spec_model(atoms, thr):
    import duckdb

    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms_oracle_sql,
    )

    vals = ",".join(
        "(" + ",".join(
            "NULL" if v is None else f"'{v}'" if isinstance(v, str) else str(v)
            for v in (pk, cell, kind, None, None, wt, val)) + ")"
        for kind, pk, cell, wt, val in atoms)
    atoms_sql = (f"SELECT * FROM (VALUES {vals}) AS "
                 "t(pk, cell, kind, ttl, expiration, writetime, value)")
    rows = duckdb.sql(compact_atoms_oracle_sql(
        atoms_sql, gc_grace_us=0, now_us=thr)).fetchall()
    got = {tuple(r) for r in rows}
    assert got == _spec_model(atoms, thr)
