"""Read-only SSTable-style binary source — the one structural surface the
reference has that the parquet-backed engine lacked (VERDICT r3 "What's
missing #2").

The reference reads Cassandra's on-disk SSTable format through a patched
reader stack (cassandra-2/.../NoTTLReader.java, NoTTLScanner.java:32-64 —
paired ``Data.db`` + ``Index.db`` random-access files walked per partition;
NoTTLColumnSerializer.java:24-51 — the per-cell wire decode: counter /
expiring / normal / deleted dispatch on a mask byte). This module
implements the SIMPLE-CELL SUBSET of that layout as a genuine binary
format plus a Spark Python DataSource that scans it in parallel:

``Data.db`` — consecutive partitions, each:
    u16  partition-key length, key bytes            (writeWithShortLength)
    i32  localDeletionTime   (0x7FFFFFFF = live partition)
    i64  markedForDeleteAt   (-2^63 = live partition)
    cells…, terminated by a u16 0 (the empty-cell-name end marker)
``Cell`` — mirrors NoTTLColumnSerializer.deserializeColumnBody:
    u16  cell-name length, name bytes
    u8   mask                (0x01 DELETION, 0x02 EXPIRATION, 0 normal)
    expiring:  i32 ttl, i32 expiration, i64 writetime, i32 len, value
    deleted:   i64 writetime, i32 len(=4), i32 localDeletionTime
    normal:    i64 writetime, i32 len, value
``Index.db`` — per partition: u16 key length, key bytes, i64 Data.db
offset (the summary/primary-index role: split planning + seek targets).
All integers big-endian (Java ``DataOutput`` convention). The full atom
surface is covered: counter / counter-update cells
(NoTTLColumnSerializer.java:26-32,47-49) and range tombstones
(NoTTLSerializer.java:31-33) decode alongside the simple kinds; a second
length-framing GENERATION ("mc", unsigned vints) dispatches via
Version.txt (:data:`SSTABLE_GENERATIONS`); and chunk-compressed data
files read through a CompressionInfo.db offsets map
(NoTTLReader.java:342-345's CompressedRandomAccessReader analog).
Partition-level deletions decode as their own row kind and are preserved
verbatim through strip and the sink. Two read-path sidecars mirror the
reference's probe order (bloom -> summary -> index -> data,
NoTTLReader.java:1502-1665): ``Filter.db`` (bloom over partition keys;
point lookups drop definitely-absent tables before any index I/O) and
``Summary.db`` (every Kth index entry; keyed plans parse only the
covering Index.db window instead of the whole index).

Scale design: the PLANNER reads only ``Index.db`` (one small sequential
pass) and cuts the key space into contiguous ``Data.db`` byte ranges; each
Spark task seeks to its range start and reads forward — no task ever
reads another split's bytes, so the scan parallelizes like any columnar
split scan and would map 1:1 onto object-store ranged GETs. No partition
is materialized whole except the one being read (the reference's iterator
does the same — NoTTLSSTableIdentityIterator).

Readers: :func:`_partition_records` reads each partition at its
Index.db span, ``mc`` re-framed as ``v1`` (:func:`_mc_to_v1`); a record
that does not fill its span fails the read. The strip transcodes it
(:func:`_strip_partition`); every other reader — the scan, the slice
reader, GC, compaction, the deep scrub, the census — parses it into byte
atoms (:func:`_parse_partition`). Only :func:`scan_data_range` decodes
atoms to strings, at its edge, so GC and compaction carry any bytes.

Writers: :class:`_TableWriter` alone writes a table's files, from one
encoded partition at a time in increasing key byte order. Every writer is
per-task and feeds it partition by partition: :func:`write_sstable`
(:func:`_encode_partition`), the strip (:func:`_strip_split`, a byte
transcoder that never decodes a cell: an expiring cell loses its ttl and
expiration, every other byte is copied), single-table GC
(:func:`_gc_split`) and compaction (:func:`_compact_range`, a streaming
k-way merge, :func:`_merge_range`), so a rewrite task holds one partition
(one per generation when merging) whatever its split's size. The
rewrites run on one driver, :func:`_rewrite_shards`: one shard per split
or merge range, by a one-stage Spark job given a session or a local fork
pool given ``None`` (the CLI's path). :func:`write_sstable_distributed`
shards an arbitrary cell frame by key range and streams each range's
sorted rows into one table (:func:`_write_rows`). Every writer commits
the same way (:func:`_commit_table`): it writes a dot-prefixed temp
directory, which readers skip, and renames it into place once TOC.txt is
written.
"""

from __future__ import annotations

import heapq
import itertools
import operator
import os
import shutil
import struct
from typing import Iterable, Iterator

from cassandra_ttl_remover_spark.plans import local_frame

DELETION_MASK = 0x01
EXPIRATION_MASK = 0x02
#: Cassandra 2.x ColumnSerializer constants (public on-disk contract); the
#: reference dispatches on exactly these (NoTTLColumnSerializer.java:26-49
#: counter / counter-update, NoTTLSerializer.java:31 range tombstone).
COUNTER_MASK = 0x04
COUNTER_UPDATE_MASK = 0x08
RANGE_TOMBSTONE_MASK = 0x10
LIVE_LOCAL_DELETION = 0x7FFFFFFF
LIVE_MARKED_FOR_DELETE = -(2 ** 63)

#: localDeletionTime is an on-disk int32 of SECONDS; Cassandra caps it at
#: Integer.MAX_VALUE (its own no-expiry sentinel — LIVE_LOCAL_DELETION
#: above is the same constant). A deletion second derived from a
#: post-2038 writetime saturates here instead of raising struct.error
#: mid-task and crashing the rewrite (ADVICE r8).
INT32_MAX = (1 << 31) - 1


def _ldt_s(sec) -> int:
    """Clamp a localDeletionTime-seconds value to the int32 ceiling."""
    sec = int(sec)
    return INT32_MAX if sec > INT32_MAX else sec

#: flat row schema the reader emits (tombstone cells: value NULL, ttl NULL,
#: expiration = the cell's localDeletionTime). Column reuse for the non-TTL
#: atom kinds (schema-stable across q_s7..q_s11):
#:   counter          — expiration carries timestampOfLastDelete (the
#:                      counter's second timestamp; counters cannot expire)
#:   range_tombstone  — cell = start bound, value = end bound,
#:                      writetime = markedForDeleteAt,
#:                      expiration = localDeletionTime
#:   partition_tombstone — cell NULL, value NULL,
#:                      writetime = markedForDeleteAt,
#:                      expiration = localDeletionTime (one row per
#:                      partition whose header carries a deletion; its
#:                      cells still follow, per Cassandra semantics)
SSTABLE_SCHEMA = (
    "pk string, cell string, kind string, ttl bigint, expiration bigint, "
    "writetime bigint, value string"
)

#: on-disk format GENERATIONS — the reference ships one remover per
#: Cassandra format stack and dispatches by version string
#: (TTLRemoverCLI.java:131-145 SPI; pom.xml's four C* 2.2/3.11/4.0/4.1
#: modules). Here: "v1" is the original fixed-width framing (u16/i32
#: lengths); "mc" is a second generation with unsigned-vint length
#: framing, modeling C* 3.x's move from fixed lengths to vints (a
#: DEMONSTRATION of the generation dispatch over the same logical atoms,
#: not the actual C* wire format). A table directory declares its
#: generation in ``Version.txt`` (the analog of the version tag Cassandra
#: carries in its file names, e.g. ``mc-1-big-Data.db``); absent file =
#: "v1", so every pre-existing fixture reads unchanged. Cell masks,
#: timestamps, and atom semantics are identical across generations.
SSTABLE_GENERATIONS = ("v1", "mc")


def _uvint_bytes(n: int) -> bytes:
    """Unsigned LEB128 vint (7 data bits per byte, high bit = continue)."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_uvint_buf(buf: bytes, pos: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        if pos >= len(buf):
            raise CorruptSSTableError(
                f"index truncated mid-vint at offset {pos}")
        c = buf[pos]
        pos += 1
        val |= (c & 0x7F) << shift
        if not (c & 0x80):
            return val, pos
        shift += 7
        if shift > 63:
            raise CorruptSSTableError(f"runaway vint at offset {pos}")


def _table_generation(table_dir: str) -> str:
    """Resolve a table directory's format generation from Version.txt
    (missing = the original fixed-width layout)."""
    vp = os.path.join(table_dir, "Version.txt")
    if not os.path.exists(vp):
        return "v1"
    with open(vp) as f:
        gen = f.read().strip()
    if gen not in SSTABLE_GENERATIONS:
        raise ValueError(
            f"unknown sstable format generation {gen!r} in {vp}; "
            f"registered: {SSTABLE_GENERATIONS}"
        )
    return gen


# ---------------------------------------------------------------------------
# chunked compression (CompressionInfo.db — the Cassandra convention)
# ---------------------------------------------------------------------------

#: chunk size for compressed Data.db files (Cassandra's default is 64 KiB
#: chunks addressed by an offsets map in CompressionInfo.db; the reference
#: reads through that map — NoTTLReader.java:342-345,622-623 builds a
#: CompressedRandomAccessReader whenever the component exists)
COMPRESSION_CHUNK = 65536

#: CompressionInfo.db layout (simplified mirror of the C* component):
#:   u32 chunk_size, u64 uncompressed_total, u32 n_chunks,
#:   n_chunks x u64 compressed_offset (into Data.db, in chunk order;
#:   chunk i's compressed length = offset[i+1] - offset[i], last runs to
#:   file end). Index.db offsets stay in UNCOMPRESSED coordinates, so the
#:   planner's key-range arithmetic is identical for plain and compressed
#:   tables; a task maps its uncompressed range to the overlapping chunks
#:   and inflates only those (the object-store ranged-GET story holds).


def _compress_data_file(table_dir: str,
                        chunk_size: int = COMPRESSION_CHUNK) -> None:
    """Rewrite a plain Data.db as zlib-compressed chunks + the
    CompressionInfo.db offsets map."""
    import zlib

    data_path = os.path.join(table_dir, "Data.db")
    with open(data_path, "rb") as f:
        raw = f.read()
    offsets = []
    out = bytearray()
    for i in range(0, len(raw), chunk_size):
        offsets.append(len(out))
        out += zlib.compress(raw[i:i + chunk_size], 6)
    with open(data_path, "wb") as f:
        f.write(bytes(out))
    with open(os.path.join(table_dir, "CompressionInfo.db"), "wb") as f:
        f.write(struct.pack(">IQI", chunk_size, len(raw), len(offsets)))
        for off in offsets:
            f.write(struct.pack(">Q", off))


class _CompressedDataReader:
    """Random-access file-like view over a chunk-compressed Data.db:
    ``seek``/``read`` operate in UNCOMPRESSED coordinates, so the read
    loop is the plain-file code path. Inflates only the chunks a read
    touches and caches the last chunk (reads are sequential within a
    split, one partition span at a time)."""

    def __init__(self, data_path: str, info_path: str):
        self._f = open(data_path, "rb")
        with open(info_path, "rb") as inf:
            self.chunk_size, self.total, n = struct.unpack(
                ">IQI", inf.read(16))
            self._offsets = list(struct.unpack(f">{n}Q", inf.read(8 * n)))
        self._csize = os.path.getsize(data_path)
        self._pos = 0
        self._cached = (-1, b"")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()
        return False

    def seek(self, pos: int) -> None:
        self._pos = pos

    def _chunk(self, i: int) -> bytes:
        import zlib

        if self._cached[0] == i:
            return self._cached[1]
        start = self._offsets[i]
        end = (self._offsets[i + 1] if i + 1 < len(self._offsets)
               else self._csize)
        self._f.seek(start)
        try:
            raw = zlib.decompress(self._f.read(end - start))
        except zlib.error as e:
            # same quarantine contract as a truncated plain file: name the
            # chunk, don't surface a bare zlib traceback
            raise CorruptSSTableError(
                f"corrupt compressed chunk {i} "
                f"(bytes {start}:{end}): {e}") from e
        self._cached = (i, raw)
        return raw

    def read(self, n: int) -> bytes:
        if n <= 0 or self._pos >= self.total:
            return b""
        n = min(n, self.total - self._pos)
        parts = []
        while n > 0:
            ci, co = divmod(self._pos, self.chunk_size)
            chunk = self._chunk(ci)
            take = min(n, len(chunk) - co)
            parts.append(chunk[co:co + take])
            self._pos += take
            n -= take
        return b"".join(parts)


def _open_data(data_path: str):
    """Open Data.db for decoding: a plain file, or — when the table has a
    CompressionInfo.db component (Cassandra's convention for 'this data
    file is chunk-compressed') — the uncompressed-coordinate view."""
    info = os.path.join(os.path.dirname(data_path), "CompressionInfo.db")
    if os.path.exists(info):
        return _CompressedDataReader(data_path, info)
    return open(data_path, "rb")


def _data_size(table_dir: str) -> int:
    """Uncompressed Data.db size — the coordinate space Index.db offsets
    and split byte ranges live in."""
    info = os.path.join(table_dir, "CompressionInfo.db")
    if os.path.exists(info):
        with open(info, "rb") as f:
            _, total, _ = struct.unpack(">IQI", f.read(16))
        return total
    return os.path.getsize(os.path.join(table_dir, "Data.db"))


# ---------------------------------------------------------------------------
# Filter.db — bloom-over-partition-keys sidecar
# ---------------------------------------------------------------------------

#: Cassandra's read path consults a per-SSTable bloom filter BEFORE any
#: index probe (the reference's point lookup: bloom check at
#: NoTTLReader.java:1521-1529, filter load at 607-613, component file
#: ``Filter.db``). This mirrors that component for the simple format:
#: ~10 bits per partition key, k=7 Kirsch–Mitzenmacher probes derived
#: from one md5 (the same engine-portable double-hash construction the
#: decontamination bloom uses, curate.py). Layout: u64 m_bits, u8 k,
#: then ceil(m/8) bitset bytes (big-endian header like every other
#: component here).
#:
#: Scale note (100 TB): a data directory accumulates many generations;
#: a point lookup without blooms costs one Index.db read per generation.
#: With Filter.db the planner drops definitely-absent tables after k
#: bit probes on a sidecar that is ~0.01% of the data size — the same
#: reason Cassandra fronts every SSTable with one. False positives just
#: degenerate to the index probe; false negatives cannot happen.
BLOOM_K = 7
BLOOM_BITS_PER_KEY = 10


def _bloom_positions(key: bytes, m_bits: int, k: int) -> list[int]:
    """k bit positions for a partition key: md5(key) split into two u64
    halves h1, h2; pos_i = (h1 + i*h2) mod m (Kirsch–Mitzenmacher)."""
    import hashlib

    d = hashlib.md5(key).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big")
    return [(h1 + i * h2) % m_bits for i in range(k)]


def _write_filter(out_dir: str, n_keys: int, keys: Iterable[bytes]) -> None:
    m = max(64, ((BLOOM_BITS_PER_KEY * n_keys + 63) // 64) * 64)
    bits = bytearray(m // 8)
    for key in keys:
        for p in _bloom_positions(key, m, BLOOM_K):
            bits[p >> 3] |= 1 << (p & 7)
    with open(os.path.join(out_dir, "Filter.db"), "wb") as f:
        f.write(struct.pack(">QB", m, BLOOM_K))
        f.write(bytes(bits))


def bloom_might_contain(table_dir: str, key: bytes) -> bool:
    """Filter.db probe for one partition key. ``True`` means "maybe
    present — probe the index"; ``False`` is definitive absence. A table
    without a Filter.db (pre-sidecar fixtures) always answers ``True``
    (no pruning, never wrong). A malformed Filter.db raises
    :class:`CorruptSSTableError` — the quarantine convention every other
    component uses — rather than silently skipping data."""
    path = os.path.join(table_dir, "Filter.db")
    try:
        with open(path, "rb") as f:
            header = f.read(9)
            if len(header) != 9:
                raise CorruptSSTableError(
                    f"{path}: truncated Filter.db header "
                    f"(wanted 9 bytes, got {len(header)})"
                )
            m, k = struct.unpack(">QB", header)
            # validate m against the ACTUAL file size before reading —
            # a corrupt header encoding an absurd m must hit the
            # quarantine path, not a multi-petabyte read attempt
            if (m == 0 or m % 64 != 0 or k == 0
                    or os.path.getsize(path) != 9 + m // 8):
                raise CorruptSSTableError(
                    f"{path}: implausible Filter.db header "
                    f"(m_bits={m}, k={k}, "
                    f"file={os.path.getsize(path)} bytes)"
                )
            bits = f.read(m // 8)
            if len(bits) != m // 8:
                raise CorruptSSTableError(
                    f"{path}: truncated Filter.db bitset "
                    f"(wanted {m // 8} bytes, got {len(bits)})"
                )
    except FileNotFoundError:
        return True
    return all(
        (bits[p >> 3] >> (p & 7)) & 1
        for p in _bloom_positions(key, m, k)
    )


# ---------------------------------------------------------------------------
# Statistics.db — per-table metadata sidecar
# ---------------------------------------------------------------------------

#: Cassandra's Statistics.db carries per-SSTable aggregates (min/max
#: timestamps, TTL presence, row counts) that the read path uses to SKIP
#: whole tables whose range cannot match (the reference's min/max check
#: at NoTTLReader.java:1544-1569) and that operators (repair, compaction,
#: this TTL remover) read to decide which files need work at all.
#: Mirrored layout: ``>IQQqqQqq`` = version, n_partitions, n_cells,
#: min_writetime, max_writetime, n_expiring, min_ttl, max_ttl (writetime
#: bounds 0 when the table has no cells; ttl bounds 0 when no expiring
#: cells). The writetime slot counted is whatever the atom carries there
#: (markedForDeleteAt for tombstone atoms) — the same slot the scan
#: emits.
#:
#: Scale note (100 TB): "which generations still carry TTLs" — the
#: reference tool's operational question — becomes a metadata-only
#: census: one tiny sidecar read per generation, zero Data.db bytes.
#: And a pushed ``writetime`` predicate prunes non-intersecting
#: generations at PLAN time, the way min/max parquet footers prune row
#: groups.
STATS_VERSION = 1
_STATS_FMT = ">IQQqqQqq"


def _write_stats(out_dir: str, n_partitions: int, n_cells: int,
                 min_wt: int | None, max_wt: int | None,
                 n_expiring: int, min_ttl: int | None,
                 max_ttl: int | None) -> None:
    # a table that emits no timestamped rows writes INVERTED writetime
    # bounds (1 > 0) — unambiguous, since real bounds always satisfy
    # min <= max; (0, 0) would collide with a genuine writetime of 0
    with open(os.path.join(out_dir, "Statistics.db"), "wb") as f:
        f.write(struct.pack(
            _STATS_FMT, STATS_VERSION, n_partitions, n_cells,
            1 if min_wt is None else min_wt,
            0 if max_wt is None else max_wt,
            n_expiring, min_ttl or 0, max_ttl or 0,
        ))


def read_stats(table_dir: str) -> dict | None:
    """Decode a table's Statistics.db into a dict (``None`` when the
    sidecar is absent — PLANNING never skips such a table, and
    :func:`stats_census` fails loudly on it, since silently reporting
    nothing would under-count TTL debt). Malformed sidecars raise
    :class:`CorruptSSTableError`."""
    path = os.path.join(table_dir, "Statistics.db")
    try:
        with open(path, "rb") as f:
            buf = f.read()
    except FileNotFoundError:
        return None
    if len(buf) != struct.calcsize(_STATS_FMT):
        raise CorruptSSTableError(
            f"{path}: Statistics.db is {len(buf)} bytes, expected "
            f"{struct.calcsize(_STATS_FMT)}"
        )
    v, np_, nc, mnw, mxw, ne, mnt, mxt = struct.unpack(_STATS_FMT, buf)
    if v != STATS_VERSION:
        raise CorruptSSTableError(
            f"{path}: unknown Statistics.db version {v}"
        )
    return {
        "n_partitions": np_, "n_cells": nc,
        "min_writetime": mnw, "max_writetime": mxw,
        "n_expiring": ne, "min_ttl": mnt, "max_ttl": mxt,
    }


# ---------------------------------------------------------------------------
# Summary.db — sampled index (every Kth entry)
# ---------------------------------------------------------------------------

#: Cassandra fronts its primary index with an IndexSummary — every Kth
#: index entry held in memory — so a lookup binary-searches the sample,
#: then reads only one index PAGE instead of the whole Index.db (the
#: reference's path: summary search at NoTTLReader.java:766-814, then
#: the bounded index scan at 1571-1659). Mirrored here as ``Summary.db``:
#: u32 interval, u32 n_samples, then per sample u16 keylen + key +
#: i64 Index.db offset + i64 Data.db offset. The planner streams the
#: samples to the last one at or before the range start and walks
#: Index.db from there (:func:`_summary_window`, :func:`_key_run`).
#:
#: Scale note (100 TB): Index.db holds one entry per partition — at
#: billions of partitions that is gigabytes the PLANNER would otherwise
#: read per table per query. The summary is 1/K of it; a key-range plan
#: touches O(summary) + O(matching index pages) bytes, which is what
#: lets point/range planning stay sub-second no matter the table count.
SUMMARY_INTERVAL = 64


def _write_summary(out_dir: str, interval: int,
                   samples: list[tuple[bytes, int, int]]) -> None:
    with open(os.path.join(out_dir, "Summary.db"), "wb") as f:
        f.write(struct.pack(">II", interval, len(samples)))
        for key, ix_off, data_off in samples:
            f.write(struct.pack(">H", len(key)) + key)
            f.write(struct.pack(">qq", ix_off, data_off))


def _iter_summary(table_dir: str):
    """Streaming Summary.db parse — the ONE place the sidecar's byte
    layout is decoded (the key-range window, the split-offset walk, the
    merge planner, the resampler and the scrub all consume this
    iterator, so the format cannot drift between them). Yields ``(key,
    Index.db offset, Data.db offset)`` one entry at a time in O(1)
    memory; raises FileNotFoundError when the table has no Summary.db
    and :class:`CorruptSSTableError` on malformation (quarantine
    convention)."""
    path = os.path.join(table_dir, "Summary.db")
    with open(path, "rb") as f:
        try:
            hdr = f.read(8)
            _, n = struct.unpack(">II", hdr)
            for _ in range(n):
                (klen,) = struct.unpack(">H", f.read(2))
                key = f.read(klen)
                if len(key) != klen:
                    raise struct.error("truncated key")
                ix_off, data_off = struct.unpack(">qq", f.read(16))
                yield key, ix_off, data_off
        except struct.error as e:
            raise CorruptSSTableError(
                f"{path}: malformed Summary.db ({e})"
            ) from None


def _summary_window(table_dir: str, key_start: bytes | None,
                    key_stop: bytes | None) -> tuple[int, int | None]:
    """The Index.db byte window ``[ix_start, ix_end)`` holding every entry
    with ``key_start <= key < key_stop`` (``None`` = open) plus one sample
    block beyond, resolved in ONE O(1)-memory pass over Summary.db:
    ``ix_start`` is the last sample at or before ``key_start``, ``ix_end``
    the sample after the first one at or past ``key_stop`` (``None`` =
    Index.db EOF). A table without Summary.db gets the whole index."""
    import contextlib

    ix_start, stop_seen = 0, False
    try:
        # an early exit abandons the generator mid-file: closing()
        # releases the Summary.db handle deterministically (long-lived
        # executors would otherwise accumulate open descriptors)
        with contextlib.closing(_iter_summary(table_dir)) as entries:
            for key, ix_off, _ in entries:
                if key_start is not None and key <= key_start:
                    ix_start = ix_off
                elif key_stop is None:
                    break  # past key_start, open end: neither end moves
                if stop_seen:
                    return ix_start, ix_off
                if key_stop is not None and key >= key_stop:
                    stop_seen = True  # include one sample block beyond
    except FileNotFoundError:
        pass
    return ix_start, None


def _summary_meta(table_dir: str) -> tuple[int, int] | None:
    """``(interval, n_entries)`` from the Summary.db header, or ``None``
    when the table has no summary."""
    path = os.path.join(table_dir, "Summary.db")
    try:
        with open(path, "rb") as f:
            hdr = f.read(8)
    except FileNotFoundError:
        return None
    try:
        interval, n = struct.unpack(">II", hdr)
    except struct.error as e:
        raise CorruptSSTableError(
            f"{path}: malformed Summary.db ({e})") from None
    return interval, n


def _iter_index_with_offsets(table_dir: str, ix_start: int = 0,
                             ix_end: int | None = None):
    """Streaming Index.db walk over the entries in bytes ``[ix_start,
    ix_end)`` (``None`` = to EOF), yielding ``(key, index byte offset,
    Data.db offset)`` — exactly the triple a Summary.db entry stores —
    parsed from 64 KiB reads. The ONE place Index.db bytes are parsed:
    every plan, :func:`read_index` and the summary rebuild (the
    reference walks the primary index the same way — buildSummaryAtLevel,
    NoTTLReader.java:1117-1140) consume it. An entry cut short raises."""
    index_path = os.path.join(table_dir, "Index.db")
    mc = _table_generation(table_dir) == "mc"
    buf, base, pos = b"", ix_start, ix_start
    stop = os.path.getsize(index_path) if ix_end is None else ix_end
    with open(index_path, "rb") as f:
        f.seek(ix_start)
        while pos < stop and (chunk := f.read(min(1 << 16, stop - pos))):
            pos += len(chunk)
            buf += chunk
            start = 0
            for key, off, end in _index_entries(buf, mc):
                yield key, base + start, off
                start = end
            buf, base = buf[start:], base + start
    if buf:
        raise CorruptSSTableError(
            f"{index_path}: truncated index entry at {base}")


def resample_summary_dir(table_dir: str, *, min_index_interval: int,
                         max_index_interval: int,
                         summary_budget_bytes: int | None = None) -> dict:
    """Adaptive index-summary resample for ONE table — the reference's
    ``cloneWithNewSummarySamplingLevel`` (NoTTLReader.java:1062-1115)
    with the same two execution paths and trigger rules:

    - summary too DENSE (interval < effective min): downsample FROM THE
      EXISTING summary — keep every f-th sample (f = smallest integer
      lifting the interval past the floor), zero Index.db bytes read
      (``IndexSummaryBuilder.downsample``'s cheap path). Because the
      writer samples every interval-th written key starting at 0, the
      kept samples are exactly a rebuild at ``interval * f`` — the two
      paths produce byte-identical files (pinned in tests).
    - summary too SPARSE (interval > max): REBUILD from Index.db at
      ``max_index_interval`` (``buildSummaryAtLevel`` — the only case
      that must touch the index); a table with no Summary.db rebuilds
      at ``min_index_interval``.
    - otherwise: noop.

    ``summary_budget_bytes`` is the memory-adaptivity analog of the
    reference's IndexSummaryManager pool, applied per table: when the
    current summary exceeds the budget, the effective min interval is
    raised so the downsampled entry count fits (entries scale 1/f; the
    pool-wide redistribution is a fleet-level loop over these reports).
    Returns the report dict for this table."""
    name = os.path.basename(table_dir)
    meta = _summary_meta(table_dir)
    if meta is None:
        samples = []
        for i, ent in enumerate(_iter_index_with_offsets(table_dir)):
            if i % min_index_interval == 0:
                samples.append(ent)
        _write_summary(table_dir, min_index_interval, samples)
        return {"generation": name, "action": "rebuild",
                "interval_before": None, "entries_before": None,
                "interval_after": min_index_interval,
                "entries_after": len(samples)}
    interval, n = meta
    eff_min = min_index_interval
    if summary_budget_bytes is not None and n:
        size = os.path.getsize(os.path.join(table_dir, "Summary.db"))
        if size > summary_budget_bytes:
            per_entry = (size - 8) / n
            budget_entries = max(1, int(summary_budget_bytes // per_entry))
            f_budget = -(-n // budget_entries)  # ceil
            eff_min = max(eff_min, interval * f_budget)
    if interval < eff_min:
        f = -(-eff_min // interval)  # smallest integer factor
        kept = [ent for i, ent in enumerate(_iter_summary(table_dir))
                if i % f == 0]
        _write_summary(table_dir, interval * f, kept)
        return {"generation": name, "action": "downsample",
                "interval_before": interval, "entries_before": n,
                "interval_after": interval * f,
                "entries_after": len(kept)}
    if interval > max_index_interval:
        samples = []
        for i, ent in enumerate(_iter_index_with_offsets(table_dir)):
            if i % max_index_interval == 0:
                samples.append(ent)
        _write_summary(table_dir, max_index_interval, samples)
        return {"generation": name, "action": "rebuild",
                "interval_before": interval, "entries_before": n,
                "interval_after": max_index_interval,
                "entries_after": len(samples)}
    return {"generation": name, "action": "noop",
            "interval_before": interval, "entries_before": n,
            "interval_after": interval, "entries_after": n}


def resample_summaries(spark, path: str, *, min_index_interval: int,
                       max_index_interval: int,
                       summary_budget_bytes: int | None = None):
    """Fleet-wide adaptive summary maintenance: one executor task per
    table applies :func:`resample_summary_dir` and reports
    ``(generation, action, interval_before, entries_before,
    interval_after, entries_after)``. The 100 TB shape matches every
    other sidecar sweep here (stats census, digest verify): the dir
    listing fans out, each task touches one bounded sidecar (plus the
    index ONLY on the rebuild path, exactly like the reference), and
    zero Data.db bytes move. Range-scan results are
    interval-independent by construction (q_s16's contract), so
    resampling is always safe to run online."""
    return _per_table(
        spark, path, lambda d: resample_summary_dir(
            d, min_index_interval=min_index_interval,
            max_index_interval=max_index_interval,
            summary_budget_bytes=summary_budget_bytes),
        "generation string, action string, interval_before bigint, "
        "entries_before bigint, interval_after bigint, entries_after bigint")


def _per_table(spark, path: str, one, schema: str):
    """The fleet sweeps' fan-out: one row ``one(table_dir)`` (a dict
    keyed by ``schema``'s columns) per table under ``path``
    (:func:`_resolve_table_dirs`), one executor task per table up to 32,
    zero shuffle."""
    import pandas as pd

    dirs = _resolve_table_dirs(path)

    def _run(batches):
        for pdf in batches:
            yield pd.DataFrame([one(d) for d in pdf["dir"]])

    return (local_frame(spark, [(d,) for d in dirs], "dir string")
            .repartition(min(len(dirs), 32))
            .mapInPandas(_run, schema=schema))


# ---------------------------------------------------------------------------
# ColumnIndex.db — promoted per-partition cell index
# ---------------------------------------------------------------------------

#: Cassandra promotes a CELL-level index into the primary index for wide
#: partitions (IndexHelper's column-index blocks; the reference's readers
#: seek within a partition through exactly these — the IndexedSliceReader
#: path) so a clustering-range read touches only the covering blocks, not
#: the whole partition. Modeled here as its own sidecar: per partition,
#: one entry per ``COLINDEX_EVERY`` cells — (first cell name, absolute
#: Data.db offset of that cell, in uncompressed coordinates like
#: Index.db). A slice plan binary-searches the entries and starts
#: decoding at the covering block instead of the partition head.
#:
#: Scale note (100 TB): time-series tables routinely grow 10⁵–10⁷ cells
#: per partition; without the promoted index every point-in-time slice
#: decodes the full partition (GBs), with it O(block) bytes. This is the
#: in-partition analog of what Summary.db does across partitions.
COLINDEX_EVERY = 64


def _write_column_index(f, key: bytes, blocks: list[tuple],
                        base: int) -> None:
    """Append one partition's ColumnIndex.db entry to ``f``; ``base`` is
    the partition's Data.db offset, block offsets are relative to it."""
    # per block: name, offset, then the OPEN-RT markers (range
    # tombstones from earlier blocks still covering this block's first
    # cell — Cassandra 3.x stores the same as IndexInfo.endOpenMarker)
    f.write(struct.pack(">H", len(key)) + key)
    f.write(struct.pack(">I", len(blocks)))
    for name, off, open_rts in blocks:
        f.write(struct.pack(">H", len(name)) + name)
        f.write(struct.pack(">q", base + off))
        f.write(struct.pack(">H", len(open_rts)))
        for s, e, ldt, mfda in open_rts:
            f.write(struct.pack(">H", len(s)) + s)
            f.write(struct.pack(">H", len(e)) + e)
            f.write(struct.pack(">iq", ldt, mfda))


def _column_index_blocks(table_dir: str, key: bytes) -> Iterator[tuple]:
    """Partition ``key``'s ColumnIndex.db blocks, one at a time:
    ``(block-start cell name, Data.db offset, [(rt start, rt end, ldt,
    mfda), …])``. Nothing when the partition has no entry or the table
    predates the sidecar (slices fall back to decoding from the partition
    head — never wrong, just unpruned). Entries are in key byte order, so
    the walk reads up to ``key``'s entry and stops: it holds one block,
    whatever the table's size. Malformed entries on the way raise
    (quarantine convention)."""
    path = os.path.join(table_dir, "ColumnIndex.db")
    try:
        f = open(path, "rb")
    except FileNotFoundError:
        return

    def take(n: int, what: str) -> bytes:
        b = f.read(n)
        if len(b) != n:
            raise struct.error(f"truncated {what}")
        return b

    def field(what: str) -> bytes:
        return take(_U16.unpack(take(2, f"{what} length"))[0], what)

    with f:
        try:
            while f.peek(1):
                k = field("key")
                if k > key:
                    return
                (nblocks,) = _U32.unpack(take(4, "block count"))
                for _ in range(nblocks):
                    name = field("block name")
                    (off,) = _I64.unpack(take(8, "block offset"))
                    (nrt,) = _U16.unpack(take(2, "open-RT count"))
                    rts = [(field("RT start"), field("RT end"),
                            *struct.unpack(">iq", take(12, "RT deletion")))
                           for _ in range(nrt)]
                    if k == key:
                        yield name, off, rts
                if k == key:
                    return
        except struct.error as e:
            raise CorruptSSTableError(
                f"{path}: malformed ColumnIndex.db ({e})"
            ) from None


def plan_partition_slice(
        table_dir: str, key: bytes,
        cell_start: bytes) -> tuple[int, bool, list[tuple]] | None:
    """Plan a clustering slice of one partition: returns
    ``(seek offset, starts_at_cell, open_rts)`` — the covering
    column-index block when the sidecar has one (``starts_at_cell=True``:
    the offset points at a cell record; ``open_rts`` are the block's
    open range-tombstone markers), else the partition head
    (``starts_at_cell=False``, no markers needed — every RT is in the
    decoded stream). ``None`` when the table's bloom filter or index
    excludes the key — the probe order is the reference's (filter ->
    summary/index -> data; NoTTLReader.java:1502-1665)."""
    if not bloom_might_contain(table_dir, key):
        return None
    head, end = _key_byte_range(table_dir, key, key + b"\x00")
    if head == end:
        return None
    # the covering block: the last one whose first name is <= cell_start
    covering = None
    for block in _column_index_blocks(table_dir, key):
        if block[0] > cell_start:
            break
        covering = block
    if covering:
        return covering[1], True, covering[2]
    return head, False, []


def _iter_slice_one_dir(d: str, off: int, at_cell: bool, markers: list,
                        key: str, cell_start: str, cell_stop: str):
    """Per-table slice decode — the executor body of
    :func:`scan_partition_slice`, a GENERATOR: rows stream out one at a
    time so per-task memory is the consumer's batch size, not the slice
    width (a pathological wide partition cannot OOM a task). ``markers``
    is the planned block's open-RT list as ``[start, end, ldt, mfda]``
    items. From ``off`` on, the partition is parsed one ColumnIndex.db
    block span at a time, framed as a record, up to the first atom at or
    past ``cell_stop`` (without the sidecar: all of it at once)."""
    for s, e, ldt, mfda in markers:
        s = s.decode("utf-8") if isinstance(s, bytes) else s
        e = e.decode("utf-8") if isinstance(e, bytes) else e
        if e >= cell_start and s < cell_stop:
            yield (key, s, "range_tombstone", None,
                   int(ldt), int(mfda), e)
    kb, start, stop = (x.encode() for x in (key, cell_start, cell_stop))
    data_path = os.path.join(d, "Data.db")
    head, end = _key_byte_range(d, kb, kb + b"\x00")
    if head == end or not (at_cell and head < off < end or off == head):
        raise CorruptSSTableError(
            f"{data_path}: index offset {off} does not start partition "
            f"{key!r}")
    mc = _table_generation(d) == "mc"
    # a span inside the partition is framed as a live partition's record
    wlen = _uvint_bytes if mc else _U16.pack
    header = wlen(len(kb)) + kb + _HEADER.pack(LIVE_LOCAL_DELETION,
                                               LIVE_MARKED_FOR_DELETE)
    cuts = itertools.chain((o for _, o, _ in _column_index_blocks(d, kb)
                            if off < o < end), [end])
    with _open_data(data_path) as f:
        f.seek(off)
        lo = off
        for hi in cuts:
            buf = f.read(hi - lo)
            try:
                if len(buf) != hi - lo:
                    raise CorruptSSTableError(
                        f"truncated: {len(buf)} of {hi - lo} bytes")
                record = ((header if lo != head else b"") + buf
                          + (wlen(0) if hi != end else b""))
                k, _, cells = _parse_partition(
                    _mc_to_v1(record) if mc else record)
                if k != kb:
                    raise CorruptSSTableError(f"its key is not {key!r}")
            except (struct.error, IndexError, CorruptSSTableError) as e:
                raise _malformed(data_path, lo, hi, e) from None
            for cell in cells:
                name = cell[0]
                if name >= stop:
                    return
                if name >= start or (cell[1] == RANGE_TOMBSTONE_MASK
                                     and cell[5] >= start):
                    # a range tombstone opening before the slice still
                    # covers it when its end bound reaches the start
                    yield _cell_row(key, cell, data_path, off)
            lo = hi


def scan_partition_slice(spark, path: str, key: str, cell_start: str,
                         cell_stop: str,
                         max_cells_per_batch: int = 65536):
    """Clustering-range slice of ONE partition across a directory of
    generations — the reference's wide-row read path: bloom check, index
    probe, then the PROMOTED COLUMN INDEX picks the covering cell block
    so the task decodes O(slice) bytes, not O(partition). Emits
    SSTABLE_SCHEMA rows with ``cell_start <= cell < cell_stop``.

    Decode starts at the covering block (which may precede the slice —
    those cells are filtered) and stops at the first atom ``>=
    cell_stop``; this requires the cell stream to be non-decreasing at
    the slice-boundary granularity (the clustering-prefix convention the
    fixtures follow). Deletion-correctness for range tombstones: the
    covering block's OPEN-RT markers (tombstones from earlier blocks
    still covering it — Cassandra's IndexInfo.endOpenMarker) are
    re-emitted, and in-stream tombstones are kept whenever their range
    intersects the slice — so the result carries every RT a consumer
    needs to resolve liveness inside ``[cell_start, cell_stop)``.

    Scale: one tiny task per surviving generation (bloom-dropped tables
    never open their index); each task seeks once and reads O(blocks
    covering the slice) bytes. At 10⁶ cells/partition this is the
    difference between KBs and GBs per slice. Per-task MEMORY is bounded
    by ``max_cells_per_batch`` (rows stream out in Arrow batches), so
    even a slice spanning a whole pathological partition cannot OOM the
    task."""
    import json

    import pandas as pd

    kb = key.encode()
    start_b = cell_start.encode()
    specs = []
    for d in _resolve_table_dirs(path):
        plan = plan_partition_slice(d, kb, start_b)
        if plan is not None:
            off, at_cell, open_rts = plan
            markers = json.dumps([
                [s.decode("utf-8"), e.decode("utf-8"), ldt, mfda]
                for s, e, ldt, mfda in open_rts
            ])
            specs.append((d, off, at_cell, markers))
    if not specs:
        return local_frame(spark, [], SSTABLE_SCHEMA)

    cols = ["pk", "cell", "kind", "ttl", "expiration",
            "writetime", "value"]

    def _read(batches):
        # bounded per-task materialization: the slice streams out in
        # Arrow batches of <= max_cells_per_batch rows, so a
        # pathologically wide slice costs one batch of memory, never
        # the whole window (VERDICT r7 #6)
        for pdf in batches:
            buf = []
            for d, off, at_cell, markers in zip(
                    pdf["dir"], pdf["off"], pdf["at_cell"],
                    pdf["markers"]):
                for row in _iter_slice_one_dir(
                        d, int(off), bool(at_cell), json.loads(markers),
                        key, cell_start, cell_stop):
                    buf.append(row)
                    if len(buf) >= max_cells_per_batch:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
            if buf:  # zero yields from mapInPandas is valid
                yield pd.DataFrame(buf, columns=cols)

    return (
        local_frame(spark,
            specs, "dir string, off long, at_cell boolean, markers string",
        )
        .repartition(min(len(specs), 32))
        .mapInPandas(_read, schema=SSTABLE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Digest.crc32 + TOC.txt — integrity sidecars
# ---------------------------------------------------------------------------

#: Cassandra writes two integrity sidecars per SSTable and the
#: reference's patched writer stack re-emits both for every rewritten
#: table (a stripped SSTable with a stale digest would be quarantined by
#: the first repair/scrub that touches it): ``Digest.crc32`` — the
#: CRC-32 of the Data.db bytes AS STORED (post-compression), ASCII
#: unsigned decimal, newline-terminated — and ``TOC.txt`` — one
#: component filename per line, including TOC.txt itself. Mirrored here
#: with the same conventions so a strip->write->verify loop proves the
#: rewrite byte-complete, not just row-complete.
_DIGEST_CHUNK = 1 << 20


def _crc32_file(path: str) -> tuple[int, int]:
    """Streaming CRC-32 (zlib polynomial) + byte length of ``path`` —
    constant memory regardless of file size (one 1 MiB buffer)."""
    import zlib

    crc = 0
    n = 0
    with open(path, "rb") as f:
        while True:
            chunk = f.read(_DIGEST_CHUNK)
            if not chunk:
                break
            crc = zlib.crc32(chunk, crc)
            n += len(chunk)
    return crc & 0xFFFFFFFF, n


def _components(d: str) -> list[str]:
    """Sorted names of the files in table directory ``d``."""
    return sorted(n for n in os.listdir(d)
                  if os.path.isfile(os.path.join(d, n)))


def _write_digest_and_toc(out_dir: str) -> None:
    crc, _ = _crc32_file(os.path.join(out_dir, "Data.db"))
    with open(os.path.join(out_dir, "Digest.crc32"), "w") as f:
        f.write(f"{crc}\n")
    components = [n for n in _components(out_dir) if n != "TOC.txt"]
    with open(os.path.join(out_dir, "TOC.txt"), "w") as f:
        for name in components + ["TOC.txt"]:
            f.write(name + "\n")


def _digest_ok(d: str, crc: int) -> bool:
    """Whether ``d``'s Digest.crc32 states ``crc``; a missing or
    unreadable sidecar fails (quarantine convention)."""
    try:
        with open(os.path.join(d, "Digest.crc32")) as f:
            return int(f.read().strip()) == crc
    except (OSError, ValueError):
        return False


def _toc_ok(d: str) -> bool:
    """Whether ``d``'s TOC.txt names exactly the component files present."""
    try:
        with open(os.path.join(d, "TOC.txt")) as f:
            named = sorted(ln.strip() for ln in f if ln.strip())
    except OSError:
        return False
    return named == _components(d)


def verify_digests(spark, path: str):
    """Fleet-scale integrity sweep over a directory of generations — the
    scrub-lite pass an operator runs after a bulk TTL-strip rewrite
    (the reference's output must survive Cassandra's own digest check
    on next compaction). One row per table:
    ``(generation, data_length, digest_ok, toc_ok)`` where ``digest_ok``
    is the streamed CRC-32 of Data.db against ``Digest.crc32`` (NULL
    sidecar -> false: an unstated table is failed, not skipped —
    quarantine convention) and ``toc_ok`` checks ``TOC.txt`` names
    exactly the component files present.

    Scale: the dir listing fans out one task per table (the file is the
    unit of parallelism, as in :func:`stats_census`); each task streams
    its Data.db once through a rolling CRC in constant memory — at
    100 TB this is an embarrassingly parallel single read pass, the
    cheapest full-bytes audit that exists."""
    def _check(d):
        crc, n = _crc32_file(os.path.join(d, "Data.db"))
        return {"generation": os.path.basename(d), "data_length": n,
                "digest_ok": _digest_ok(d, crc), "toc_ok": _toc_ok(d)}

    return _per_table(spark, path, _check,
                      "generation string, data_length bigint, "
                      "digest_ok boolean, toc_ok boolean")


def _scrub_one_dir(d: str, deep: bool) -> dict:
    """Scrub one table: every check independent, exceptions demote the
    check to False instead of failing the sweep (scrub REPORTS, the
    quarantine decision is the caller's)."""
    crc, _ = _crc32_file(os.path.join(d, "Data.db"))
    digest_ok, toc_ok = _digest_ok(d, crc), _toc_ok(d)
    index_ok = summary_ok = bloom_ok = stats_ok = False
    entries: list[tuple[bytes, int]] = []
    try:
        entries = read_index(os.path.join(d, "Index.db"))
        keys = [k for k, _ in entries]
        offs = [o for _, o in entries]
        index_ok = (keys == sorted(set(keys))
                    and offs == sorted(set(offs))
                    and (not offs or offs[0] == 0))
    except (OSError, CorruptSSTableError):
        pass
    try:
        # every sample must name a real index entry at its recorded
        # Data.db offset — a drifted sample silently misplans reads
        by_off = dict(zip((o for _, o in entries), (k for k, _ in entries)))
        summary_ok = all(by_off.get(data_off) == k
                         for k, _, data_off in _iter_summary(d))
    except (OSError, CorruptSSTableError):
        pass
    try:
        bloom_ok = all(bloom_might_contain(d, k) for k, _ in entries)
    except (OSError, CorruptSSTableError):
        pass
    st = None
    try:
        st = read_stats(d)
        stats_ok = st is not None and st["n_partitions"] == len(entries)
    except CorruptSSTableError:
        pass
    n_parts = len(entries)
    n_cells = st["n_cells"] if st else None
    if deep:
        try:
            cells = {key: len(c) for key, _, c in _table_partitions(d)}
            n_cells = sum(cells.values())
            stats_ok = stats_ok and st is not None and st["n_cells"] == n_cells
            # every indexed span must parse to its own key (unindexed
            # bytes fail the parse)
            index_ok = index_ok and cells.keys() == {k for k, _ in entries}
        except (OSError, CorruptSSTableError, ValueError):
            # a deep pass that DIES mid-decode proved neither count nor
            # index/data agreement — demote both verdicts so a failed
            # deep pass is never mistaken for a passed one
            stats_ok = False
            index_ok = False
    return {
        "generation": os.path.basename(d),
        "digest_ok": digest_ok, "toc_ok": toc_ok,
        "index_ok": index_ok, "summary_ok": summary_ok,
        "bloom_ok": bloom_ok, "stats_ok": stats_ok,
        "n_partitions": n_parts, "n_cells": n_cells,
    }


def scrub_tables(spark, path: str, deep: bool = False):
    """Fleet-scale SCRUB over a directory of generations — the
    ``sstablescrub`` analog for this engine's native format, one row of
    independent verdicts per table: Data.db CRC vs ``Digest.crc32``,
    ``TOC.txt`` completeness, index key/offset monotonicity,
    summary-sample/index agreement, bloom no-false-negatives over every
    indexed key, and Statistics.db consistency. ``deep=True`` adds a
    full decode pass and checks the stats cell count against the bytes
    (the slow path an operator runs on tables the shallow sweep
    flagged). Every check degrades to False on its own exception — a
    scrub REPORTS, it never aborts the sweep mid-fleet.

    Scale: one task per table (dir fan-out as in :func:`stats_census`);
    shallow scrub reads sidecars + one streamed CRC pass, deep scrub one
    decode pass — both constant-memory, embarrassingly parallel."""
    return _per_table(
        spark, path, lambda d: _scrub_one_dir(d, deep),
        "generation string, digest_ok boolean, toc_ok boolean, "
        "index_ok boolean, summary_ok boolean, bloom_ok boolean, "
        "stats_ok boolean, n_partitions bigint, n_cells bigint")


# ---------------------------------------------------------------------------
# writers: one table writer under every SSTable writer
# ---------------------------------------------------------------------------

_U16 = struct.Struct(">H")
_U32 = struct.Struct(">I")
_I32 = struct.Struct(">i")
_I64 = struct.Struct(">q")
_HEADER = struct.Struct(">iq")
#: ``v1`` cell bodies after the mask byte, through the value length
_EXPIRING_BODY = struct.Struct(">iiqI")
_COUNTER_BODY = struct.Struct(">qqI")
_CELL_BODY = struct.Struct(">qI")


class _TableWriter:
    """The ONE code that writes an SSTable's components, one encoded
    partition at a time: :meth:`add` appends to Data.db, Index.db and
    ColumnIndex.db and keeps the Summary.db samples and Statistics.db
    counts; :meth:`close` writes Filter.db (keys read back from Index.db),
    Summary.db, Statistics.db, compresses Data.db if asked, then writes
    Digest.crc32 and TOC.txt. Keys must arrive in strictly increasing
    byte order. It holds the record being added plus one sample per
    ``summary_interval`` partitions. As a context manager, a body that
    raises closes the files and writes no other sidecar."""

    def __init__(self, out_dir: str, generation: str = "v1",
                 compressed: bool = False,
                 summary_interval: int = SUMMARY_INTERVAL,
                 colindex: bool = True):
        if generation not in SSTABLE_GENERATIONS:
            raise ValueError(f"unknown generation {generation!r}")
        os.makedirs(out_dir, exist_ok=True)
        if generation != "v1":
            with open(os.path.join(out_dir, "Version.txt"), "w") as vf:
                vf.write(generation)
        self.out_dir = out_dir
        self._wlen = _uvint_bytes if generation == "mc" else _U16.pack
        self._compressed = compressed
        self._interval = summary_interval
        names = ["Data.db", "Index.db"] + (["ColumnIndex.db"] if colindex
                                            else [])
        self._files = [open(os.path.join(out_dir, n), "wb") for n in names]
        self.n_partitions = self._n_cells = self._n_expiring = 0
        self._last_key = None
        self._summary: list[tuple] = []
        self._wt: list[int] = []  # [min, max] writetime slot, once known
        self._ttl: list[int] = []  # [min, max] ttl of an expiring cell

    def add(self, key: bytes, data: bytes, n_cells: int, wts: list,
            blocks: list = (), ttls: list = ()) -> None:
        """Append one partition: ``data`` is its whole record in the
        table's framing, ``wts`` the writetime slot of each atom plus the
        header's markedForDeleteAt if it carries a deletion, ``blocks``
        its ColumnIndex.db blocks (offsets relative to the record),
        ``ttls`` the ttl of each expiring cell. A key that does not sort
        after the previous one raises :class:`CorruptSSTableError`."""
        if self._last_key is not None and key <= self._last_key:
            raise CorruptSSTableError(
                f"{self.out_dir}: partition key {key!r} does not sort "
                f"after the previous key {self._last_key!r}")
        df, ix, *ci = self._files
        offset = df.tell()
        if self.n_partitions % self._interval == 0:
            self._summary.append((key, ix.tell(), offset))
        self.n_partitions += 1
        self._last_key = key
        ix.write(self._wlen(len(key)) + key + _I64.pack(offset))
        df.write(data)
        if blocks and ci:
            _write_column_index(ci[0], key, blocks, offset)
        self._n_cells += n_cells
        self._n_expiring += len(ttls)
        for span, values in ((self._wt, wts), (self._ttl, ttls)):
            if values:
                lo, hi = min(values), max(values)
                span[:] = [min(lo, span[0]), max(hi, span[1])] if span \
                    else [lo, hi]

    def close(self) -> None:
        for f in self._files:
            f.close()
        d = self.out_dir
        _write_filter(d, self.n_partitions,
                      (key for key, _, _ in _iter_index_with_offsets(d)))
        _write_summary(d, self._interval, self._summary)
        _write_stats(d, self.n_partitions, self._n_cells,
                     *(self._wt or (None, None)), self._n_expiring,
                     *(self._ttl or (None, None)))
        if self._compressed:
            _compress_data_file(d)
        _write_digest_and_toc(d)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *_):
        if exc_type is None:
            self.close()
        else:
            for f in self._files:
                f.close()


def _encode_partition(key: bytes, cells: Iterable[tuple],
                      deletion: tuple | None = None, mc: bool = False,
                      colindex_every: int = COLINDEX_EVERY) -> tuple:
    """One partition in :func:`write_sstable`'s cell form (cells in the
    order given, ``deletion`` the header's ``(ldt, mfda)`` or ``None``) as
    :meth:`_TableWriter.add`'s arguments after the key: ``(record,
    n_cells, wts, blocks, ttls)``, the record in ``v1`` or ``mc`` framing."""
    wlen, wval = ((_uvint_bytes, _uvint_bytes) if mc
                  else (_U16.pack, _U32.pack))
    ldt, mfda = deletion or (LIVE_LOCAL_DELETION, LIVE_MARKED_FOR_DELETE)
    out = bytearray(wlen(len(key)) + key + _HEADER.pack(int(ldt), int(mfda)))
    wts: list[int] = []
    ttls: list[int] = []
    blocks: list[tuple] = []
    open_rts: list[tuple[bytes, bytes, int, int]] = []
    for i_cell, (name, mask, ttl, expiration, writetime,
                 value) in enumerate(cells):
        if colindex_every and i_cell % colindex_every == 0:
            # open-RT markers: every range tombstone written earlier in
            # this partition still covering this block's first cell
            # (Cassandra's endOpenMarker analog) — a slice landing here
            # must re-emit them or deletions silently vanish from it
            open_rts = [rt for rt in open_rts if rt[1] >= name]
            blocks.append((name, len(out), list(open_rts)))
        wt = int(writetime)
        wts.append(wt)
        if mask & EXPIRATION_MASK:
            ttls.append(int(ttl))
        out += wlen(len(name)) + name + bytes((mask,))
        if mask & RANGE_TOMBSTONE_MASK:
            # name = start bound; body = end bound, then the DeletionTime
            # (i32 ldt from the expiration slot, i64 mfda from writetime):
            # the C* 2.x RangeTombstone.Serializer body shape
            open_rts.append((name, value, int(expiration), wt))
            out += wlen(len(value)) + value + _HEADER.pack(int(expiration),
                                                            wt)
            continue
        if mask & COUNTER_MASK:
            # i64 timestampOfLastDelete (tuple's expiration slot —
            # counters cannot expire) + i64 writetime + value
            out += struct.pack(">qq", int(expiration), wt)
        elif mask & EXPIRATION_MASK:
            out += struct.pack(">iiq", int(ttl), int(expiration), wt)
        else:
            # normal / deleted / counter-update all carry only the i64
            # writetime before the value (reference else-branch)
            out += _I64.pack(wt)
        out += wval(len(value)) + value
    out += wlen(0)
    n_cells = len(wts)
    if int(ldt) != LIVE_LOCAL_DELETION or int(mfda) != LIVE_MARKED_FOR_DELETE:
        # a partition-level deletion emits a row carrying mfda in the
        # writetime slot: fold it into the stats bounds so timestamp skip
        # can never drop a deletion row
        wts.append(int(mfda))
    return bytes(out), n_cells, wts, blocks, ttls


def write_sstable(partitions: Iterable[tuple], out_dir: str,
                  generation: str = "v1", compressed: bool = False,
                  summary_interval: int = SUMMARY_INTERVAL,
                  colindex_every: int = COLINDEX_EVERY) -> None:
    """Write one table at ``out_dir`` for ``partitions``: ``(key_bytes,
    cells)`` or ``(key_bytes, cells, (ldt, mfda))`` (a partition-level
    deletion in the header; its cells still follow), each cell
    ``(name_bytes, mask, ttl, expiration, writetime, value_bytes)``
    (ttl/expiration ignored unless EXPIRATION_MASK; value_bytes holds the
    4-byte localDeletionTime for DELETION_MASK). Partitions are sorted by
    key BYTES (keys must be distinct) for this function's callers, the
    fixtures and generators; each is encoded by :func:`_encode_partition`
    and added to a :class:`_TableWriter`, which writes every sidecar into
    a temp sibling that is renamed onto ``out_dir`` (:func:`_commit_table`;
    ``out_dir`` must be absent, empty or a table, which is replaced).
    ``generation`` selects the length framing ("v1" fixed-width, "mc"
    unsigned-vint — :data:`SSTABLE_GENERATIONS`). ``compressed=True``
    rewrites Data.db as zlib chunks behind a CompressionInfo.db offsets
    map (NoTTLReader.java:342-345); Index.db offsets stay uncompressed."""
    def write(tmp):
        with _TableWriter(tmp, generation, compressed, summary_interval,
                          bool(colindex_every)) as w:
            for key, cells, *deletion in sorted(partitions,
                                                key=lambda p: p[0]):
                w.add(key, *_encode_partition(
                    key, cells, deletion[0] if deletion else None,
                    generation == "mc", colindex_every))

    final = os.path.abspath(out_dir)
    head, name = os.path.split(final)
    _commit_table(os.path.join(head, f".tmp-{name}"), final, write)


def _commit_table(tmp: str, final: str, write):
    """The ONE commit of every table writer: ``write(tmp)`` writes the
    table, then ``tmp`` is renamed to ``final``. ``tmp`` is a dot-prefixed
    sibling of ``final``, which readers skip (:func:`_table_subdirs`), so
    no reader lists a table before its TOC.txt exists and a writer that
    raises leaves only ``tmp``. What an earlier attempt left at ``tmp`` is
    removed first, and a table it committed at ``final`` (one with a
    TOC.txt) is replaced; ``final`` must otherwise be absent or empty.
    Returns what ``write`` returns."""
    shutil.rmtree(tmp, ignore_errors=True)
    result = write(tmp)
    if os.path.exists(os.path.join(final, "TOC.txt")):
        shutil.rmtree(final)
    os.rename(tmp, final)
    return result


# ---------------------------------------------------------------------------
# low-level decode
# ---------------------------------------------------------------------------

class CorruptSSTableError(ValueError):
    """A Data.db record ended mid-field — the file is truncated or the
    layout is not the simple-cell subset. The reference quarantines such
    files (markSuspect); callers here should do the same rather than
    emit partial partitions."""


def select_index_range(
    entries: list[tuple[bytes, int]],
    data_size: int,
    key_start: bytes | None = None,
    key_stop: bytes | None = None,
) -> tuple[int, int, int]:
    """Key-range pruning over a WHOLE index held as a list
    (:func:`read_index`): the reference answer the planner's streaming
    walk (:func:`_key_run`) is checked against. Entries are in key-BYTE
    order (writer invariant), so the partitions with ``key_start <= key
    < key_stop`` form one contiguous run: binary-search both bounds and
    return ``(lo_entry, byte_start, byte_end)`` (``(lo, 0, 0)``: empty)."""
    import bisect

    keys = [k for k, _ in entries]
    lo = 0 if key_start is None else bisect.bisect_left(keys, key_start)
    hi = len(entries) if key_stop is None else bisect.bisect_left(
        keys, key_stop)
    if lo >= hi:
        return (lo, 0, 0)
    byte_start = entries[lo][1]
    byte_end = entries[hi][1] if hi < len(entries) else data_size
    return (lo, byte_start, byte_end)


def _index_entries(buf: bytes, mc: bool) -> Iterator[tuple]:
    """``(key, Data.db offset, entry end in buf)`` for each whole Index.db
    entry at the head of ``buf``, up to the first one it cuts short."""
    pos, n = 0, len(buf)
    while pos < n:
        if mc:
            try:
                klen, p = _read_uvint_buf(buf, pos)
            except CorruptSSTableError:
                if n - pos < 10:  # a vint cut short
                    return
                raise
        elif pos + 2 <= n:
            (klen,) = _U16.unpack_from(buf, pos)
            p = pos + 2
        else:
            return
        pos = p + klen + 8
        if pos > n:
            return
        yield buf[p:p + klen], _I64.unpack_from(buf, pos - 8)[0], pos


def read_index(index_path: str) -> list[tuple[bytes, int]]:
    """The whole index as ``[(key, Data.db offset), …]`` in file order
    (== key-byte order, by the writer invariant), read by
    :func:`_iter_index_with_offsets`. Framing follows the table's
    generation (Version.txt dispatch)."""
    return [(key, off) for key, _, off in
            _iter_index_with_offsets(os.path.dirname(index_path))]


def _utf8(raw: bytes, data_path: str, part_off: int, what: str) -> str:
    """A string field of :data:`SSTABLE_SCHEMA`. Bytes that are not UTF-8
    raise a ValueError naming the file, the partition's offset and the
    field (the rewrites never decode, so they carry any bytes)."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError(
            f"{data_path}: {what} of the partition at offset {part_off} "
            f"is not UTF-8 ({e})") from None


def scan_data_range(data_path: str, start: int, end: int) -> Iterator[tuple]:
    """Decode every partition whose record starts in ``[start, end)`` and
    yield flat cell rows (the SSTABLE_SCHEMA tuple shape) in file order:
    byte atoms (:func:`_partition_records`, :func:`_parse_partition`)
    decoded to strings at this edge (:func:`_cell_row`). A record that is
    truncated, malformed or does not fill its index span fails with a
    CorruptSSTableError naming the file and the partition's offset
    (quarantine the file, don't emit partial partitions); a key, cell
    name, value or range-tombstone bound that is not UTF-8 fails with a
    ValueError naming the file, the offset and the field (:func:`_utf8`)."""
    for off, _, (key, deletion, cells) in _partition_records(
            data_path, start, end, _parse_partition):
        pk = _utf8(key, data_path, off, "partition key")
        if deletion is not None:
            # a partition deletion is its own row, before the cells it
            # does not shadow: the TTL remover preserves it verbatim
            yield (pk, None, "partition_tombstone", None, *deletion, None)
        for cell in cells:
            yield _cell_row(pk, cell, data_path, off)


def _cell_row(pk: str, cell: tuple, data_path: str, off: int) -> tuple:
    """One parsed cell as its SSTABLE_SCHEMA row, its byte fields decoded
    by :func:`_utf8` (``off``: the offset its error names)."""
    name, mask, ttl, exp, wt, val = cell
    name = _utf8(name, data_path, off, "cell name")
    if mask == RANGE_TOMBSTONE_MASK:
        return (pk, name, "range_tombstone", None, exp, wt,
                _utf8(val, data_path, off, "RT end bound"))
    if mask == DELETION_MASK:
        return (pk, name, "tombstone", None, _I32.unpack(val)[0], wt, None)
    val = _utf8(val, data_path, off, "cell value")
    if mask == EXPIRATION_MASK:
        return (pk, name, "expiring", ttl, exp, wt, val)
    if mask == COUNTER_MASK:
        return (pk, name, "counter", None, exp, wt, val)
    return (pk, name, "counter_update" if mask else "normal", None, None,
            wt, val)


# ---------------------------------------------------------------------------
# Spark Python DataSource
# ---------------------------------------------------------------------------

def _resolve_table_dirs(path: str) -> list[str]:
    """The ONE layout convention: ``path`` is either a single sstable
    (``Data.db`` directly inside) or a directory of shard/generation
    sstables (every writer's output layout == a Cassandra data
    directory). Shared by the batch reader and the stats census (the
    streaming readers list :func:`_table_subdirs`) so a layout change
    cannot make them disagree on what a directory contains."""
    if os.path.exists(os.path.join(path, "Data.db")):
        return [path]
    subs = ([os.path.join(path, d) for d in _table_subdirs(path)]
            if os.path.isdir(path) else [])
    if not subs:
        raise ValueError(
            f"no Data.db under {path} or its subdirectories"
        )
    return subs


def _table_subdirs(path: str) -> list[str]:
    """Sorted names of ``path``'s subdirectories holding a ``Data.db``,
    except dot-prefixed ones (unfinished shards, :func:`_rewrite_shards`)."""
    return sorted(
        d for d in os.listdir(path)
        if not d.startswith(".")
        and os.path.exists(os.path.join(path, d, "Data.db"))
    )


def _stats_may_match(table_dir: str, lo: int | None,
                     hi: int | None) -> bool:
    """Plan-time min/max-timestamp skip (the reference's range check,
    NoTTLReader.java:1544-1569; parquet row-group pruning's analog):
    ``False`` only when the table's Statistics.db PROVES no row can
    satisfy ``lo <= writetime <= hi`` — absent sidecar means probe."""
    st = read_stats(table_dir)
    if st is None:
        return True
    if st["min_writetime"] > st["max_writetime"]:
        return False  # inverted sentinel: the table emits no rows
    if lo is not None and st["max_writetime"] < lo:
        return False
    if hi is not None and st["min_writetime"] > hi:
        return False
    return True


def _exact_key(key_start: bytes | None,
               key_stop: bytes | None) -> bytes | None:
    """The half-open range ``[b, b + b"\\x00")`` contains exactly the key
    ``b`` (any strict extension of ``b`` sorts >= the stop bound), so a
    range narrowed to that shape IS a point lookup — the only case where
    a bloom answer about one key can prune a whole table."""
    if (key_start is not None and key_stop is not None
            and key_stop == key_start + b"\x00"):
        return key_start
    return None


def _check_index_in_data(table_dir: str, last_offset: int,
                         size: int) -> None:
    """Reject an Index.db entry at or past the end of Data.db (``size``,
    uncompressed): the data file was cut at a partition boundary, and a
    plan would silently drop every partition from that entry on. Entries
    are in offset order, so the last one decides."""
    if last_offset >= size:
        raise CorruptSSTableError(
            f"{os.path.join(table_dir, 'Index.db')} lists a partition at "
            f"offset {last_offset}, at or past the end of "
            f"{os.path.join(table_dir, 'Data.db')} ({size} bytes "
            f"uncompressed): the data file is truncated")


def _plan_table_splits(table_dir: str, num_splits: int,
                       key_start: bytes | None = None,
                       key_stop: bytes | None = None) -> list[tuple]:
    """Shared split planner: the partitions with ``key_start <= key <
    key_stop`` (:func:`_key_run`) cut into at most ``num_splits``
    contiguous runs of equal partition count, as ``(data_path, start,
    end)`` byte ranges — used by the batch reader, the per-shard
    streaming micro-batches and the rewrite's split specs."""
    data_path = os.path.join(table_dir, "Data.db")
    run = list(_key_run(table_dir, key_start, key_stop))
    n = len(run) - 1  # partitions; the last value is where they end
    if n <= 0:
        return []
    per = -(-n // min(num_splits, n))
    return [(data_path, run[s], run[min(s + per, n)])
            for s in range(0, n, per)]


def _make_datasource_cls():
    # deferred import so the module stays importable where pyspark's
    # datasource API is absent; class built once and cached
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        InputPartition,
    )

    class _Split(InputPartition):
        def __init__(self, data_path: str, start: int, end: int):
            self.data_path = data_path
            self.start = start
            self.end = end

    class SimpleSSTableReader(DataSourceReader):
        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("sstable_simple requires option 'path'")
            self.num_splits = int(options.get("num_splits", "8"))
            ks = options.get("key_start")
            kp = options.get("key_stop")
            self.key_start = ks.encode("utf-8") if ks is not None else None
            self.key_stop = kp.encode("utf-8") if kp is not None else None
            # inclusive writetime bounds INSPECTED from pushed filters
            # for Statistics.db table skip; the filters themselves stay
            # with Spark (yielded back), so granularity is free
            self.wt_min_req: int | None = None
            self.wt_max_req: int | None = None

        def _narrow(self, lo: bytes | None, hi: bytes | None) -> None:
            if lo is not None and (self.key_start is None
                                   or lo > self.key_start):
                self.key_start = lo
            if hi is not None and (self.key_stop is None
                                   or hi < self.key_stop):
                self.key_stop = hi

        def _wt_narrow(self, lo: int | None, hi: int | None) -> None:
            if lo is not None and (self.wt_min_req is None
                                   or lo > self.wt_min_req):
                self.wt_min_req = lo
            if hi is not None and (self.wt_max_req is None
                                   or hi < self.wt_max_req):
                self.wt_max_req = hi

        def pushFilters(self, filters):
            # Catalyst filter pushdown (Spark 4.1 Python DataSource API):
            # pk comparisons become index key-range pruning. Spark's
            # string comparison is unsigned UTF-8 byte order — identical
            # to the index's key-byte order — and pruning granularity IS
            # the pk, so absorbed filters are satisfied exactly and are
            # NOT re-evaluated post-scan. Everything else stays with
            # Spark. AND semantics: ranges intersect (also with any
            # explicit key_start/key_stop options).
            from pyspark.sql.datasource import (
                EqualTo,
                GreaterThan,
                GreaterThanOrEqual,
                LessThan,
                LessThanOrEqual,
                StringStartsWith,
            )

            for f in filters:
                val = getattr(f, "value", None)
                if (getattr(f, "attribute", None) == ("writetime",)
                        and isinstance(val, int)
                        and not isinstance(val, bool)):
                    # inspect-only: tighten the plan-time stats bounds,
                    # then hand the filter back for exact evaluation
                    v = int(val)
                    if isinstance(f, EqualTo):
                        self._wt_narrow(v, v)
                    elif isinstance(f, GreaterThan):
                        self._wt_narrow(v + 1, None)
                    elif isinstance(f, GreaterThanOrEqual):
                        self._wt_narrow(v, None)
                    elif isinstance(f, LessThan):
                        self._wt_narrow(None, v - 1)
                    elif isinstance(f, LessThanOrEqual):
                        self._wt_narrow(None, v)
                    yield f
                    continue
                if (getattr(f, "attribute", None) != ("pk",)
                        or not isinstance(val, str)):
                    yield f
                    continue
                b = val.encode("utf-8")
                if isinstance(f, EqualTo):
                    self._narrow(b, b + b"\x00")
                elif isinstance(f, GreaterThanOrEqual):
                    self._narrow(b, None)
                elif isinstance(f, GreaterThan):
                    self._narrow(b + b"\x00", None)
                elif isinstance(f, LessThan):
                    self._narrow(None, b)
                elif isinstance(f, LessThanOrEqual):
                    self._narrow(None, b + b"\x00")
                elif isinstance(f, StringStartsWith) and b:
                    # {x: x.startswith(p)} == [p, byte-successor(p));
                    # a utf-8 encoding never ends in 0xff, so the
                    # successor is always last-byte + 1
                    self._narrow(b, b[:-1] + bytes([b[-1] + 1]))
                else:
                    yield f

        def _table_dirs(self):
            return _resolve_table_dirs(self.path)

        def partitions(self):
            # key-range pushdown happens in the planner: each table is
            # pruned to the contiguous index run first (point lookup ==
            # a one-partition run), THEN parallelized — tasks
            # collectively read only the selected partitions' bytes, and
            # split boundaries snap to real partition starts so no
            # decode ever begins mid-record. A POINT lookup (the range
            # narrowed to exactly one key) consults each table's
            # Filter.db bloom FIRST — the reference's probe order
            # (NoTTLReader.java:1521-1529: bloom, then index) — so
            # definitely-absent generations are dropped before their
            # Index.db is ever opened.
            tables = self._table_dirs()
            key = _exact_key(self.key_start, self.key_stop)
            if key is not None:
                tables = [t for t in tables if bloom_might_contain(t, key)]
            if self.wt_min_req is not None or self.wt_max_req is not None:
                tables = [t for t in tables
                          if _stats_may_match(t, self.wt_min_req,
                                              self.wt_max_req)]
            splits = [
                _Split(*t)
                for table in tables
                for t in _plan_table_splits(table, self.num_splits,
                                            self.key_start, self.key_stop)
            ]
            return splits or [_Split(os.path.join(self._table_dirs()[0],
                                                  "Data.db"), 0, 0)]

        def read(self, partition):
            yield from scan_data_range(
                partition.data_path, partition.start, partition.end
            )

    class SSTableStreamReader(DataSourceStreamReader):
        """Micro-batch source over a DIRECTORY of shard sstables: each
        batch is the set of shard directories that appeared since the
        last offset — the incremental-migration shape ("new SSTables
        keep landing; strip them as they arrive"). Offsets are the
        sorted list of consumed shard names (small: one string per
        shard; a production source would compact this into a manifest
        log the way file-stream sources do). Decoding stays on the
        EXECUTORS — partitions() plans index-snapped byte splits per
        new shard exactly like the batch reader."""

        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("sstable_simple requires option 'path'")
            self.num_splits = int(options.get("num_splits", "4"))
            ks = options.get("key_start")
            kp = options.get("key_stop")
            self.key_start = ks.encode("utf-8") if ks is not None else None
            self.key_stop = kp.encode("utf-8") if kp is not None else None

        def initialOffset(self):
            return {"shards": []}

        def latestOffset(self):
            return {"shards": _table_subdirs(self.path)}

        def partitions(self, start, end):
            # same index key pruning as the batch planner, per new shard
            # (including the bloom gate on an exact-key subscription)
            new = sorted(set(end["shards"]) - set(start["shards"]))
            key = _exact_key(self.key_start, self.key_stop)
            return [
                _Split(*t)
                for shard in new
                if key is None
                or bloom_might_contain(os.path.join(self.path, shard), key)
                for t in _plan_table_splits(
                    os.path.join(self.path, shard), self.num_splits,
                    self.key_start, self.key_stop
                )
            ]

        def read(self, partition):
            yield from scan_data_range(
                partition.data_path, partition.start, partition.end
            )

        def commit(self, end):
            pass

    class SimpleSSTableDataSource(DataSource):
        """``spark.read.format("sstable_simple").option("path", d).load()``
        — flat cell rows per SSTABLE_SCHEMA; ``spark.readStream`` over a
        shard directory yields one micro-batch per newly-arrived shard
        set."""

        @classmethod
        def name(cls):
            return "sstable_simple"

        def schema(self):
            return SSTABLE_SCHEMA

        def reader(self, schema):
            return SimpleSSTableReader(self.options)

        def streamReader(self, schema):
            return SSTableStreamReader(self.options)

    class _DigestShard(InputPartition):
        def __init__(self, shard_dir: str):
            self.shard_dir = shard_dir

    class DigestStreamReader(DataSourceStreamReader):
        """Continuous INTEGRITY monitor during a migration: one verdict
        row per newly-landed shard (append mode) — the streamed form of
        :func:`verify_digests`, so an operator watches corruption appear
        the moment a bad shard lands instead of at the next batch sweep.
        Offsets are consumed shard names, like the cell stream source;
        the CRC pass runs on the EXECUTOR that owns the shard's task."""

        def __init__(self, options):
            self.path = options.get("path")
            if not self.path:
                raise ValueError("sstable_digest requires option 'path'")

        def initialOffset(self):
            return {"shards": []}

        def latestOffset(self):
            return {"shards": _table_subdirs(self.path)}

        def partitions(self, start, end):
            new = sorted(set(end["shards"]) - set(start["shards"]))
            return [_DigestShard(os.path.join(self.path, s)) for s in new]

        def read(self, partition):
            d = partition.shard_dir
            crc, n = _crc32_file(os.path.join(d, "Data.db"))
            yield (os.path.basename(d), n, _digest_ok(d, crc))

        def commit(self, end):
            pass

    class SSTableDigestDataSource(DataSource):
        """``spark.readStream.format("sstable_digest").option("path", d)``
        — one (generation, data_length, digest_ok) row per newly-arrived
        shard."""

        @classmethod
        def name(cls):
            return "sstable_digest"

        def schema(self):
            return "generation string, data_length bigint, digest_ok boolean"

        def streamReader(self, schema):
            return DigestStreamReader(self.options)

    # contract: return the PRIMARY source class (tests construct it
    # directly); the digest stream source rides along as an attribute
    # and register_sstable_source registers both
    SimpleSSTableDataSource.companion_sources = (SSTableDigestDataSource,)
    return SimpleSSTableDataSource


_DS_CLS = None


def register_sstable_source(spark) -> None:
    """Register the ``sstable_simple`` format on this session and enable
    Python-source filter pushdown (runtime-settable; needed when the
    session wasn't built by :func:`session.get_spark`, e.g. the grading
    driver's). Registration is unconditional: ``dataSource.register``
    overwrites any prior binding, and keying a seen-set on ``id(spark)``
    is unsound — a garbage-collected session's CPython id can be reused
    by a fresh one, which would then silently skip registration."""
    global _DS_CLS
    if _DS_CLS is None:
        _DS_CLS = _make_datasource_cls()
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(_DS_CLS)
    for cls in _DS_CLS.companion_sources:
        spark.dataSource.register(cls)


def scan_sstable(spark, path: str, num_splits: int = 8,
                 key_start: str | None = None,
                 key_stop: str | None = None):
    """Parallel scan of a simple-cell SSTable directory into flat cell
    rows. ``key_start``/``key_stop`` (byte-order half-open range over the
    partition key) push pruning into the PLANNER via the index — the S3/S4
    scan semantics on the binary format: only the selected partitions'
    Data.db bytes are ever read."""
    register_sstable_source(spark)
    r = (
        spark.read.format("sstable_simple")
        .option("path", path)
        .option("num_splits", str(num_splits))
    )
    if key_start is not None:
        r = r.option("key_start", key_start)
    if key_stop is not None:
        r = r.option("key_stop", key_stop)
    return r.load()


def stream_sstable(spark, path: str, num_splits: int = 4):
    """Streaming scan of a shard-sstable directory: one micro-batch per
    newly-arrived shard set (see ``SSTableStreamReader``)."""
    register_sstable_source(spark)
    return (
        spark.readStream.format("sstable_simple")
        .option("path", path)
        .option("num_splits", str(num_splits))
        .load()
    )


def _split_specs(path: str, num_splits: int) -> list[tuple]:
    """One rewrite task spec per index-snapped split of every table under
    ``path``: ``(shard, data_path, start, end)``, where the shard name
    ``<generation>_shard=<split>`` keeps a generation's splits together
    and in key order."""
    return [
        (f"{os.path.basename(d.rstrip('/'))}_shard={i:05d}", *split)
        for d in _resolve_table_dirs(path)
        for i, split in enumerate(_plan_table_splits(d, num_splits))
    ]


def _split_offsets(table_dir: str, start: int, end: int) -> Iterator[int]:
    """The Data.db offsets of the partitions that start in ``[start,
    end)``, then where the last one ends (the next entry's offset, else
    the data size), walking Index.db from the Summary.db sample at or
    before ``start`` in bounded memory. An entry at or past the end of
    Data.db raises (:func:`_check_index_in_data`)."""
    import contextlib

    ix_lo = 0
    try:
        with contextlib.closing(_iter_summary(table_dir)) as samples:
            for _, ix_off, data_off in samples:
                if data_off > start:
                    break
                ix_lo = ix_off
    except FileNotFoundError:
        pass
    size = _data_size(table_dir)
    inside = False
    for _, _, off in _iter_index_with_offsets(table_dir, ix_lo):
        _check_index_in_data(table_dir, off, size)
        if off >= end:
            if inside:
                yield off
            return
        if off >= start:
            inside = True
            yield off
    if inside:
        yield size


def _canonical_mask(mask: int) -> int | None:
    """The atom a mask byte decodes as, in :func:`_parse_partition`'s
    dispatch order (the reference's: range tombstone, counter, counter
    update, expiring, deleted), as its one-bit mask (``None``: not an
    atom)."""
    for bit in (RANGE_TOMBSTONE_MASK, COUNTER_MASK, COUNTER_UPDATE_MASK,
                EXPIRATION_MASK, DELETION_MASK):
        if mask & bit:
            return bit
    return 0 if mask == 0 else None


_CANONICAL_MASK = [_canonical_mask(m) for m in range(256)]


def _mc_to_v1(buf: bytes) -> bytes:
    """Re-frame one ``mc`` partition record as ``v1``: every vint length
    becomes a u16 (key, cell name, range-tombstone end bound) or an i32
    (value); all other bytes are copied."""
    out = bytearray()
    klen, p = _read_uvint_buf(buf, 0)
    out += _U16.pack(klen) + buf[p:p + klen + 12]
    p += klen + 12
    while True:
        nlen, p = _read_uvint_buf(buf, p)
        out += _U16.pack(nlen)
        if not nlen:
            return bytes(out) + buf[p:]
        mask = buf[p + nlen]
        out += buf[p:p + nlen + 1]
        p += nlen + 1
        if mask & RANGE_TOMBSTONE_MASK:
            elen, p = _read_uvint_buf(buf, p)
            out += _U16.pack(elen) + buf[p:p + elen + 12]
            p += elen + 12
            continue
        # fixed fields before the value: counter and expiring cells carry
        # two, every other atom only its writetime
        width = (16 if _CANONICAL_MASK[mask] in (COUNTER_MASK,
                                                 EXPIRATION_MASK) else 8)
        out += buf[p:p + width]
        vlen, p = _read_uvint_buf(buf, p + width)
        out += _U32.pack(vlen) + buf[p:p + vlen]
        p += vlen


def _parse_partition(buf: bytes) -> tuple:
    """Parse one ``v1`` partition record, the whole of ``buf``, into byte
    atoms ``(key, (ldt, mfda) | None, cells)``, each cell in
    :func:`write_sstable`'s form with a canonical mask (a range tombstone
    ``(start, mask, 0, ldt, mfda, end)``, unused slots 0), so
    :func:`_encode_partition` of it gives ``buf`` back. Raises as
    :func:`_strip_partition` does: :class:`CorruptSSTableError` on an
    unknown mask, a tombstone body that is not 4 bytes or a record that
    does not end at the end of ``buf``, ``struct.error`` on one cut
    short."""
    unpack_u16 = _U16.unpack_from
    (klen,) = unpack_u16(buf, 0)
    pos = 2 + klen
    ldt, mfda = _HEADER.unpack_from(buf, pos)
    pos += 12
    cells: list[tuple] = []
    add = cells.append
    while True:
        (nlen,) = unpack_u16(buf, pos)
        if not nlen:
            pos += 2
            break
        at = pos + 2 + nlen  # the mask byte
        name = buf[pos + 2:at]
        canon = _CANONICAL_MASK[buf[at]]
        if canon == EXPIRATION_MASK:
            ttl, exp, wt, vlen = _EXPIRING_BODY.unpack_from(buf, at + 1)
            pos = at + 21
        elif canon == RANGE_TOMBSTONE_MASK:
            (elen,) = unpack_u16(buf, at + 1)
            pos = at + 3 + elen
            exp, wt = _HEADER.unpack_from(buf, pos)
            add((name, canon, 0, exp, wt, buf[at + 3:pos]))
            pos += 12
            continue
        elif canon == COUNTER_MASK:
            exp, wt, vlen = _COUNTER_BODY.unpack_from(buf, at + 1)
            ttl = 0
            pos = at + 21
        elif canon is None:
            raise CorruptSSTableError(
                f"cell mask 0x{buf[at]:02x} is not a recognized "
                "simple/counter/range-tombstone atom")
        else:
            wt, vlen = _CELL_BODY.unpack_from(buf, at + 1)
            if canon == DELETION_MASK and vlen != 4:
                raise CorruptSSTableError(
                    f"cell tombstone body is {vlen} bytes, not 4")
            ttl = exp = 0
            pos = at + 13
        add((name, canon, ttl, exp, wt, buf[pos:pos + vlen]))
        pos += vlen
    if pos != len(buf):
        raise CorruptSSTableError(
            f"partition ends at byte {pos} of its {len(buf)}-byte index "
            "span")
    deleted = ldt != LIVE_LOCAL_DELETION or mfda != LIVE_MARKED_FOR_DELETE
    return buf[2:2 + klen], (ldt, mfda) if deleted else None, cells


def _malformed(data_path: str, lo: int, hi: int,
               e: Exception) -> CorruptSSTableError:
    """The error for the partition at ``lo`` whose span ends at ``hi``."""
    if isinstance(e, (struct.error, IndexError)):
        e = f"the record runs past its span, truncated ({e})"
    return CorruptSSTableError(
        f"{data_path}: malformed partition at offset {lo} (its index span "
        f"ends at {hi}): {e}")


def _partition_records(data_path: str, start: int, end: int, parse):
    """``(offset, span end, parse(record))`` for each partition that
    starts in ``[start, end)`` of ``data_path``, in file order, each read
    at its Index.db span (:func:`_split_offsets`, :func:`_open_data`) and
    parsed in ``v1`` framing (``mc`` re-framed by :func:`_mc_to_v1`). A
    span cut short or a record ``parse`` rejects raises
    :class:`CorruptSSTableError` naming ``data_path`` and the offset."""
    table_dir = os.path.dirname(data_path)
    mc = _table_generation(table_dir) == "mc"
    offsets = _split_offsets(table_dir, start, end)
    lo = next(offsets, None)
    if lo is None:
        return
    with _open_data(data_path) as src:
        src.seek(lo)
        for hi in offsets:
            buf = src.read(hi - lo)
            try:
                if len(buf) != hi - lo:
                    raise CorruptSSTableError(
                        f"truncated: {len(buf)} of {hi - lo} bytes")
                parsed = parse(_mc_to_v1(buf) if mc else buf)
            except (struct.error, IndexError, CorruptSSTableError) as e:
                raise _malformed(data_path, lo, hi, e) from None
            yield lo, hi, parsed
            lo = hi


def _table_partitions(table_dir: str) -> Iterator[tuple]:
    """Every partition of one table, parsed (:func:`_parse_partition`)."""
    return (part for _, _, part in _partition_records(
        os.path.join(table_dir, "Data.db"), 0, _data_size(table_dir),
        _parse_partition))


def _strip_partition(buf: bytes) -> tuple:
    """TTL-strip one ``v1`` partition record, the whole of ``buf``, at the
    byte level. An expiring cell loses its i32 ttl and i32 expiration and
    its mask becomes 0; any other atom is copied as is, with its mask
    byte written in canonical form.

    Returns ``(out, key, deletion_mfda | None, writetimes, blocks)``:
    the stripped bytes, the partition key, the header's
    markedForDeleteAt when it carries a deletion, the writetime slot of
    every atom, and the ColumnIndex.db blocks ``(first cell name, offset
    in ``out``, open range tombstones)`` that :func:`_encode_partition`
    would build for it. Raises ``struct.error``, ``IndexError`` or
    :class:`CorruptSSTableError` on a malformed record."""
    (klen,) = _U16.unpack_from(buf, 0)
    pos = 2 + klen
    ldt, mfda = _HEADER.unpack_from(buf, pos)
    pos += 12
    out = bytearray()
    run = 0  # start of the bytes not yet copied to ``out``
    wts: list[int] = []
    blocks: list[tuple] = []
    open_rts: list[tuple] = []
    while True:
        (nlen,) = _U16.unpack_from(buf, pos)
        if not nlen:
            pos += 2
            break
        at = pos + 2 + nlen  # the mask byte
        mask = buf[at]
        if len(wts) % COLINDEX_EVERY == 0:
            name = buf[pos + 2:at]
            open_rts = [rt for rt in open_rts if rt[1] >= name]
            blocks.append((name, len(out) + pos - run,
                           list(open_rts)))
        canon = _CANONICAL_MASK[mask]
        if canon == RANGE_TOMBSTONE_MASK:
            (elen,) = _U16.unpack_from(buf, at + 1)
            p = at + 3 + elen
            rt_ldt, wt = _HEADER.unpack_from(buf, p)
            open_rts.append((buf[pos + 2:at], buf[at + 3:p], rt_ldt, wt))
            pos = p + 12
        elif canon == EXPIRATION_MASK:
            (wt,) = _I64.unpack_from(buf, at + 9)
            (vlen,) = _U32.unpack_from(buf, at + 17)
            pos = at + 21 + vlen
        elif canon is not None:
            p = at + 9 if canon == COUNTER_MASK else at + 1
            (wt,) = _I64.unpack_from(buf, p)
            (vlen,) = _U32.unpack_from(buf, p + 8)
            if canon == DELETION_MASK and vlen != 4:
                raise CorruptSSTableError(
                    f"cell tombstone body is {vlen} bytes, not 4")
            pos = p + 12 + vlen
        else:
            raise CorruptSSTableError(
                f"cell mask 0x{mask:02x} is not a recognized "
                "simple/counter/range-tombstone atom")
        wts.append(wt)
        if canon == EXPIRATION_MASK:
            # live from here on: mask 0, no ttl, no expiration
            out += buf[run:at]
            out.append(0)
            run = at + 9
        elif canon != mask:
            out += buf[run:at]
            out.append(canon)
            run = at + 1
    if pos != len(buf):
        raise CorruptSSTableError(
            f"partition ends at byte {pos} of its {len(buf)}-byte index "
            "span")
    out += buf[run:]
    deleted = ldt != LIVE_LOCAL_DELETION or mfda != LIVE_MARKED_FOR_DELETE
    return out, buf[2:2 + klen], mfda if deleted else None, wts, blocks


def _strip_split(shard_dir: str, data_path: str, start: int,
                 end: int) -> tuple[int, int]:
    """The strip task: transcode (:func:`_strip_partition`, no atom is
    decoded) each partition that starts in ``[start, end)`` of
    ``data_path`` as :func:`_partition_records` reads it, into a ``v1``
    table at ``shard_dir``: byte-identical to :func:`write_sstable` over
    the stripped scan rows when cells are in name order, as every writer
    leaves them. A malformed record, or a key that does not sort after
    the one before, raises :class:`CorruptSSTableError` naming
    ``data_path`` and its offset. Returns ``(n_partitions, n_cells)``,
    partition deletions counted as cells like the scan's rows."""
    n_rows = 0
    with _TableWriter(shard_dir) as w:
        for lo, hi, (out, key, mfda, wts, blocks) in _partition_records(
                data_path, start, end, _strip_partition):
            n_atoms = len(wts)
            if mfda is None and not n_atoms:
                continue  # the row path never sees a live, empty one
            if mfda is not None:
                wts.append(mfda)
            try:
                w.add(key, out, n_atoms, wts, blocks)
            except CorruptSSTableError as e:
                raise _malformed(data_path, lo, hi, e) from None
            n_rows += n_atoms + (mfda is not None)
    return w.n_partitions, n_rows


def rewrite_stripped(spark, path: str, out_dir: str,
                     num_splits: int = 8) -> list:
    """The reference's ENTIRE job with ZERO shuffle, and the CLI's only
    sstable->sstable path: every generation is already sorted, and TTL
    strip is per-cell (expiring -> normal, everything else verbatim —
    NoTTLColumnSerializer's exact rule), so each index-snapped byte split
    transcodes ITS OWN output sstable at the byte level
    (:func:`_strip_split`): no decode to rows, no repartition, no sort,
    no network. This is the reference's 1:1 per-file dataflow,
    parallelized: on ``spark``'s executors as one Spark job, or, with
    ``spark=None``, on a local process pool that starts no session (the
    CLI's path; :func:`_rewrite_shards`). Consolidating many generations
    into non-overlapping shards is compaction (:func:`compact_rewrite`),
    not the strip.

    Output layout: one ``v1`` uncompressed shard per split,
    ``out_dir/<generation>_shard=<split>`` (:func:`_rewrite_shards`) —
    partition-level deletions preserved, every sidecar re-emitted
    (outputs pass :func:`verify_digests`). ``out_dir`` must be absent or
    empty. Returns the per-shard report rows ``(shard, n_partitions,
    n_cells)``."""
    return _rewrite_shards(spark, out_dir, _split_specs(path, num_splits),
                           _strip_split, ("n_partitions", "n_cells"))


def _resolve_atoms(parts: Iterable[tuple], threshold: int) -> list[tuple]:
    """Task-local application of compact_atoms' ONE shadowing rule — the
    single implementation in engine code, run by the k-way merge
    (:func:`_merge_range`), the single-table GC rewrite (:func:`_gc_split`)
    and ``compact_atoms``' grouped map (:func:`_compact_key`). Tests hold
    it to the DuckDB mirror ``compact_atoms_oracle_sql`` and to
    spec-written models (tests/test_sstable.py, the spec-model property
    tests).

    ``parts`` are one key's parsed partitions (:func:`_parse_partition`),
    one per generation in generation order. Atoms stay bytes: UTF-8 byte
    order is code-point order, so range coverage and the arg-max
    tie-break match the string rule on UTF-8. Returns resolved ``(cell,
    writetime, value, status)`` rows."""
    pd_wt = None
    rts: dict[tuple, int] = {}
    atoms: dict[bytes, list] = {}
    for _, deletion, cells in parts:
        if deletion is not None:
            pd_wt = deletion[1] if pd_wt is None else max(pd_wt, deletion[1])
        for name, mask, _, _, wt, val in cells:
            if mask == RANGE_TOMBSTONE_MASK:
                rts[(name, val)] = max(rts.get((name, val), wt), wt)
            else:
                atoms.setdefault(name, []).append((wt, mask, val))
    out: list[tuple] = []
    for cell, versions in atoms.items():
        # a version survives when it is newer than the partition delete
        # and every range tombstone covering its cell
        floor = max((m for (s, e), m in rts.items() if s <= cell <= e),
                    default=pd_wt)
        if pd_wt is not None and floor < pd_wt:
            floor = pd_wt
        surv = (versions if floor is None
                else [v for v in versions if v[0] > floor])
        if not surv:
            continue
        shards = [
            (wt, int(val)) for wt, mask, val in surv
            if mask in (COUNTER_MASK, COUNTER_UPDATE_MASK)
        ]
        tomb_wt = max(
            (wt for wt, mask, _ in surv if mask == DELETION_MASK),
            default=None)
        if shards:
            live = [
                (wt, v) for wt, v in shards
                if tomb_wt is None or wt > tomb_wt
            ]
            if live:
                out.append((
                    cell, max(wt for wt, _ in live),
                    str(sum(v for _, v in live)).encode(),
                    "counter_live"))
            elif tomb_wt > threshold:
                out.append((cell, tomb_wt, None, "tombstone_retained"))
            continue
        # LWW; a tombstone wins a writetime tie, then the larger value
        wt, mask, val = surv[0] if len(surv) == 1 else max(
            surv, key=lambda a: (a[0], a[1] == DELETION_MASK, a[2]))
        if mask == DELETION_MASK:
            if wt > threshold:
                out.append((cell, wt, None, "tombstone_retained"))
        else:
            out.append((cell, wt, val, "live"))
    for (s, e), m in rts.items():
        if (pd_wt is None or m > pd_wt) and m > threshold:
            out.append((s, m, e, "range_tombstone_retained"))
    if pd_wt is not None and pd_wt > threshold:
        out.append((None, pd_wt, None, "partition_tombstone_retained"))
    return out


def _iter_planner_keys(d: str):
    """Sorted partition-key stream for the merge PLANNER — Summary.db when
    present (one sampled key per interval), else the full Index.db. Both
    read INCREMENTALLY (a generator over the open file, one entry at a
    time) so the planner never holds a whole generation's key list: its
    memory is the decimation buffer, not the key count."""
    try:
        for k, _, _ in _iter_summary(d):
            yield k
    except FileNotFoundError:
        for k, _, _ in _iter_index_with_offsets(d):
            yield k


def _plan_merge_cuts(dirs: list[str], num_splits: int,
                     max_planner_keys: int = 65536) -> list[bytes]:
    """Cut points for the k-way merge: a STREAMING merge of the
    generations' already-sorted summary keys (``heapq.merge`` holds one
    head per generation) through a decimating sampler whose buffer never
    exceeds ``2 * max_planner_keys`` — when it fills, every other sample
    is dropped and the stride doubles, so planning cost is O(cap) driver
    memory regardless of corpus size (at 100 TB the summaries alone are
    millions of keys x generations; materializing them — the round-7
    planner — is the one place this job could OOM the driver). Cuts are
    deterministic for a given input; ANY cuts are CORRECT (tasks
    partition the key space), sampling only affects balance."""
    merged = heapq.merge(*(_iter_planner_keys(d) for d in dirs))
    deduped = (k for k, _ in itertools.groupby(merged))
    buf: list[bytes] = []
    stride = 1
    for i, k in enumerate(deduped):
        if i % stride == 0:
            buf.append(k)
        if len(buf) > 2 * max_planner_keys:
            buf = buf[::2]
            stride *= 2
    step = max(1, len(buf) // max(1, num_splits))
    return buf[step::step][: max(0, num_splits - 1)]


def _merge_ranges(dirs: list[str], num_splits: int,
                  max_planner_keys: int = 65536) -> list[tuple]:
    """The k-way merge's task specs: contiguous half-open key ranges
    ``(start, stop)`` cut by :func:`_plan_merge_cuts`, ``None`` = open.
    Cut points ship as HEX so partition keys stay opaque bytes end to
    end — a strict-UTF-8 decode here crashed the planner on corpora with
    non-UTF-8 keys even though the on-disk format and every comparison
    treat keys as bytes (ADVICE r8)."""
    cuts = [c.hex() for c in _plan_merge_cuts(dirs, num_splits,
                                              max_planner_keys)]
    bounds = [None, *cuts, None]
    return list(zip(bounds, bounds[1:]))


def _key_run(table_dir: str, key_start: bytes | None,
             key_stop: bytes | None) -> Iterator[int]:
    """The Data.db offsets of the partitions with ``key_start <= key <
    key_stop`` (``None`` = open) in key order, then where the last one
    ends (the next entry's offset, else the data size); nothing when no
    key is in range. Walks Index.db from the Summary.db sample at or
    before ``key_start`` (:func:`_summary_window`) one entry at a time;
    an entry at or past the end of Data.db raises
    (:func:`_check_index_in_data`)."""
    import contextlib

    size = _data_size(table_dir)
    end, inside = size, False
    # the walk stops at key_stop itself: only the window start is used
    ix_start, _ = _summary_window(table_dir, key_start, None)
    with contextlib.closing(
            _iter_index_with_offsets(table_dir, ix_start)) as entries:
        for key, _, off in entries:
            _check_index_in_data(table_dir, off, size)
            if key_stop is not None and key >= key_stop:
                end = off
                break
            if key_start is None or key >= key_start:
                inside = True
                yield off
    if inside:
        yield end


def _key_byte_range(table_dir: str, key_start: bytes | None,
                    key_stop: bytes | None) -> tuple[int, int]:
    """Data.db byte range of the partitions with ``key_start <= key <
    key_stop`` (``None`` = open; ``(0, 0)``: none): the first and last
    value of :func:`_key_run`."""
    run = _key_run(table_dir, key_start, key_stop)
    first = last = next(run, 0)
    for last in run:
        pass
    return first, last


def _merge_range(dirs: list[str], ks: str | None, kp: str | None,
                 threshold: int) -> Iterator[tuple[bytes, list]]:
    """One merge task as a streaming k-way merge: the hex key range
    ``[ks, kp)``'s parsed partitions from EVERY generation
    (:func:`_key_byte_range`) merged on key bytes by ``heapq.merge``
    (stable: a key's partitions arrive in generation order), each key
    resolved by :func:`_resolve_atoms`. Yields ``(key, resolved rows)`` in
    key order, holding one partition per generation at a time."""
    start = bytes.fromhex(ks) if ks is not None else None
    stop = bytes.fromhex(kp) if kp is not None else None
    key = operator.itemgetter(0)
    merged = heapq.merge(*(
        (part for _, _, part in _partition_records(
            os.path.join(d, "Data.db"), *_key_byte_range(d, start, stop),
            _parse_partition))
        for d in dirs), key=key)
    for k, group in itertools.groupby(merged, key=key):
        yield k, _resolve_atoms(group, threshold)


#: the resolved rows of both compaction plans, ``compact_atoms`` and
#: :func:`merge_compact_sorted`
MERGED_SCHEMA = ("pk string, cell string, writetime bigint, value string, "
                 "status string")
_MERGED_COLUMNS = ["pk", "cell", "writetime", "value", "status"]


def _compact_key(pdf, threshold: int):
    """``compact_atoms``' group function: one ``pk``'s
    :data:`SSTABLE_SCHEMA` rows (a pandas frame) in parsed-partition
    form, resolved by :func:`_resolve_atoms` and decoded at the edge
    (:func:`_merged_row`). The cells are one part (:func:`_row_to_cell`)
    and each partition tombstone is a part of its own, because a header
    holds one deletion and the resolver takes the newest across parts.
    Holds one key's atoms; returns a frame of :data:`MERGED_SCHEMA`."""
    import pandas as pd

    pk = pdf["pk"].iat[0]
    key = _text(pk, pk, "partition key")
    parts, cells = [], []
    for _, cell, kind, ttl, exp, wt, val in pdf.itertuples(index=False,
                                                           name=None):
        if kind == "partition_tombstone":
            parts.append((key, (_ldt_s(exp), int(wt)), []))
        else:
            cells.append(_row_to_cell(cell, kind, ttl, exp, wt, val, pk=pk))
    parts.append((key, None, cells))
    return pd.DataFrame([_merged_row(key, *row)
                         for row in _resolve_atoms(parts, threshold)],
                        columns=_MERGED_COLUMNS)


def _merged_row(key: bytes, cell, wt: int, val, status: str) -> tuple:
    """One resolved row in :func:`merge_compact_sorted`'s string columns;
    a field that is not UTF-8 raises a ValueError naming key and field."""
    what = "partition key"
    try:
        pk = key.decode("utf-8")
        what = "cell name"
        cell = None if cell is None else cell.decode("utf-8")
        what = ("RT end bound" if status == "range_tombstone_retained"
                else "cell value")
        val = None if val is None else val.decode("utf-8")
    except UnicodeDecodeError as e:
        raise ValueError(
            f"merged partition with key 0x{key.hex()}: {what} is not "
            f"UTF-8 ({e})") from None
    return pk, cell, wt, val, status


def merge_compact_sorted(spark, path: str, *, gc_grace_us: int,
                         now_us: int, num_splits: int = 8,
                         max_planner_keys: int = 65536):
    """Compaction the way Cassandra ACTUALLY runs it — a k-way merge of
    sorted runs with NO shuffle: every generation is sorted by partition
    key (writer invariant), so the planner cuts ONE set of key ranges
    from the merged summaries and each task streams its range from EVERY
    generation (:func:`_merge_range`), resolving one key at a time with
    EXACTLY :func:`~..operators.compact.compact_atoms` semantics — the one
    shadowing rule over all three deletion granularities (partition
    deletes, range tombstones, cell tombstones — "deletes are data",
    SURVEY §1.2, Cassandra3TTLRemover.java:124-136), LWW with
    tombstones-win-ties, additive counter-shard merge, and the uniform
    gc_grace retain/purge threshold. The cell data never crosses the
    network — the alternative (q_t8's ``compact_atoms``, a ``pk``
    exchange into the same resolver) shuffles every cell once; this plan
    moves ZERO cell bytes between tasks, which at 100 TB is the whole
    cost of compaction. The ranges run as one stage with no exchange, at
    most ``defaultParallelism`` tasks.

    Emits ``(pk, cell, writetime, value, status)`` — byte-identical to
    ``compact_atoms`` over the same generations (q_t8/q_t9 hold both to
    one DuckDB oracle).

    Correctness of the range partitioning: a pk lives in exactly ONE
    task (ranges cut on partition keys; every generation's byte window
    is the index-resolved run for that key range), and every deletion
    atom travels WITH its partition in every generation — the partition
    header row, its range tombstones, and its cells all decode from the
    same partition records the task already reads, so key-local
    shadowing sees the complete deletion picture. Planner memory is
    bounded by ``max_planner_keys`` (see :func:`_plan_merge_cuts`);
    per-task working state is one partition per generation, whatever
    the range's size (:func:`_merge_range`)."""
    dirs = _resolve_table_dirs(path)
    ranges = _merge_ranges(dirs, num_splits, max_planner_keys)
    threshold = int(now_us) - int(gc_grace_us)
    # a task holds one Arrow batch of rows (the session's batch size)
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))

    def _merge(batches):
        import pandas as pd

        rows = (_merged_row(key, *row)
                for pdf in batches for ks, kp in zip(pdf["ks"], pdf["kp"])
                for key, resolved in _merge_range(dirs, ks, kp, threshold)
                for row in resolved)
        while chunk := list(itertools.islice(rows, batch if batch > 0
                                             else None)):
            yield pd.DataFrame(chunk, columns=_MERGED_COLUMNS)

    return local_frame(spark, ranges, "ks string, kp string").mapInPandas(
        _merge, schema=MERGED_SCHEMA)


def stream_digests(spark, path: str):
    """Streaming integrity monitor: one ``(generation, data_length,
    digest_ok)`` row per newly-arrived shard (see ``DigestStreamReader``) —
    corruption surfaces the micro-batch its shard lands, not at the next
    batch sweep."""
    register_sstable_source(spark)
    return (
        spark.readStream.format("sstable_digest")
        .option("path", path)
        .load()
    )


def lookup_partition(spark, path: str, key: str):
    """Point lookup of one partition by key — an index binary search plus a
    single seek-and-decode task (the reference's per-partition access
    path). Implemented as the degenerate one-key range."""
    return scan_sstable(spark, path, num_splits=1,
                        key_start=key, key_stop=key + "\x00")


def _successor_in_dir(d: str, probe: bytes) -> tuple:
    """First partition key strictly greater than ``probe`` in ONE table —
    the reference's successor lookup (firstKeyBeyond,
    NoTTLReader.java:1680-1715) — plus ``(index_bytes_parsed,
    index_bytes_total)`` diagnostics proving the bounded read. Probe
    order mirrors the range planner: Summary.db resolves the Index.db
    window from the last sample <= probe through one sample block past
    the first sample > probe (the successor can never sit beyond it),
    and ONLY that window is walked; Data.db is never opened. Tables
    without Summary.db walk the full index (never wrong, just
    unpruned). Returns ``(key bytes | None, bytes_parsed,
    bytes_total)``."""
    import contextlib

    total = os.path.getsize(os.path.join(d, "Index.db"))
    ix_start, ix_end = _summary_window(d, probe, probe + b"\x00")
    parsed = (total if ix_end is None else ix_end) - ix_start
    with contextlib.closing(
            _iter_index_with_offsets(d, ix_start, ix_end)) as entries:
        nxt = next((key for key, _, _ in entries if key > probe), None)
    return nxt, parsed, total


def first_key_beyond(spark, path: str, key: str):
    """S5 on the native source: per-generation successor lookup — one
    ``(generation, next_key, index_bytes_parsed, index_bytes_total)``
    row per table, ``next_key`` NULL when the probe is at or past the
    table's last key (exactly the reference's null contract,
    NoTTLReader.java:1680-1715). One executor task per table; each
    task's I/O is one Summary.db streaming pass plus one covering
    Index.db window — at a billion partitions per table the window is
    KBs while the index is GBs, which is the entire point of the
    summary probe order. The directory-level successor is
    ``min(next_key)`` over the rows (the multi-generation read path's
    merge step, done declaratively)."""
    probe = key.encode()

    def _read(d):
        nxt, parsed, total = _successor_in_dir(d, probe)
        return {"generation": os.path.basename(d),
                "next_key": None if nxt is None else nxt.decode(),
                "index_bytes_parsed": parsed, "index_bytes_total": total}

    return _per_table(spark, path, _read,
                      "generation string, next_key string, "
                      "index_bytes_parsed bigint, index_bytes_total bigint")


def stats_census(spark, path: str):
    """Metadata-only census of a directory of generations: one row per
    table from its ``Statistics.db`` alone — zero Data.db bytes read.
    This is the reference tool's operational question ("which SSTables
    still carry TTLs?") answered the way an operator would at fleet
    scale: the dir listing parallelizes across executors and each task
    reads a fixed-size sidecar per table. Inverted writetime bounds
    (empty table) and zero-expiring ttl bounds surface as NULLs. Tables
    without the sidecar raise — censusing unstated tables would
    silently under-report TTL debt (quarantine convention)."""
    def _read(d):
        st = read_stats(d)
        if st is None:
            raise CorruptSSTableError(
                f"{d}: no Statistics.db — cannot census")
        empty = st["min_writetime"] > st["max_writetime"]
        return {
            "generation": os.path.basename(d),
            "n_partitions": st["n_partitions"], "n_cells": st["n_cells"],
            "n_expiring": st["n_expiring"],
            "min_writetime": None if empty else st["min_writetime"],
            "max_writetime": None if empty else st["max_writetime"],
            "min_ttl": st["min_ttl"] if st["n_expiring"] else None,
            "max_ttl": st["max_ttl"] if st["n_expiring"] else None,
        }

    return _per_table(spark, path, _read,
                      "generation string, n_partitions bigint, "
                      "n_cells bigint, n_expiring bigint, "
                      "min_writetime bigint, max_writetime bigint, "
                      "min_ttl bigint, max_ttl bigint")


# ---------------------------------------------------------------------------
# row writers: GC, compaction, one rewrite driver, one sink for cell frames
# ---------------------------------------------------------------------------

#: the writer mask of each cell kind of :data:`SSTABLE_SCHEMA`
_KIND_MASK = {"normal": 0, "expiring": EXPIRATION_MASK,
              "tombstone": DELETION_MASK, "counter": COUNTER_MASK,
              "counter_update": COUNTER_UPDATE_MASK,
              "range_tombstone": RANGE_TOMBSTONE_MASK}


def _text(x, pk, field: str) -> bytes:
    """A string field of an :data:`SSTABLE_SCHEMA` row as writer bytes.
    The native format has no NULL name or value, so a NULL raises a
    ValueError naming the row's ``pk`` and the field."""
    if x is None:
        raise ValueError(f"partition {pk!r}: {field} is NULL")
    return str(x).encode()


def _row_to_cell(cell, kind, ttl, exp, wt, val, pk=None) -> tuple:
    """Inverse of the scan's row decode: one SSTABLE_SCHEMA row back to
    its writer cell tuple (the cell half of :func:`_partition_cells`). An
    unknown kind, a NULL cell name, or a NULL value on any kind but a
    tombstone raises a ValueError (:func:`_text`; ``pk`` names the row)."""
    mask = _KIND_MASK.get(kind)
    if mask is None:
        raise ValueError(f"cell kind {kind!r} is not a recognized atom kind")
    name = _text(cell, pk, f"{kind} cell name")
    if mask == DELETION_MASK:
        return (name, mask, 0, 0, int(wt), struct.pack(">i", _ldt_s(exp)))
    # a range tombstone's value is its end bound
    val = _text(val, pk, f"{kind} value")
    if mask == EXPIRATION_MASK:
        # expiration is an on-disk int32 of seconds — saturate like the
        # deletion branches (Cassandra's overflow-policy CAP stance)
        return (name, mask, int(ttl), _ldt_s(exp), int(wt), val)
    if mask == COUNTER_MASK:
        # expiration slot = timestampOfLastDelete (see SSTABLE_SCHEMA
        # column-reuse note)
        return (name, mask, 0, int(exp), int(wt), val)
    if mask == RANGE_TOMBSTONE_MASK:
        # expiration = localDeletionTime, wt = markedForDeleteAt
        return (name, mask, 0, _ldt_s(exp), int(wt), val)
    return (name, mask, 0, 0, int(wt), val)


def _partition_cells(rows: Iterable[tuple]) -> tuple[list, tuple | None]:
    """One partition's :data:`SSTABLE_SCHEMA` rows, cells in name order,
    in :func:`write_sstable`'s form: ``(cells, header deletion | None)``,
    a ``partition_tombstone`` row becoming the header's deletion."""
    cells, deletion = [], None
    for pk, cell, kind, ttl, exp, wt, val in rows:
        if kind == "partition_tombstone":
            # the header's localDeletionTime is an int32 like a cell's
            deletion = (_ldt_s(exp), int(wt))
        else:
            cells.append(_row_to_cell(cell, kind, ttl, exp, wt, val, pk=pk))
    return cells, deletion


def _resolved_partition(resolved: Iterable[tuple]) -> tuple[list,
                                                            tuple | None]:
    """One key's resolved rows (:func:`_resolve_atoms`) in
    :func:`write_sstable`'s form, ``(cells sorted by name, deletion |
    None)`` — the ONE atom reconstruction behind the GC and compaction
    rewrites (DuckDB mirror: :func:`compact_rewrite_oracle_sql`). LOSSY
    EXACTLY WHERE COMPACTION IS: live cells re-encode as normal cells,
    counters with ``timestampOfLastDelete = 0``, and retained deletions
    take their writetime's second, saturated (:func:`_ldt_s`), as
    localDeletionTime."""
    cells, deletion = [], None
    for cell, wt, val, status in resolved:
        if status == "live":
            cells.append((cell, 0, 0, 0, wt, val))
        elif status == "counter_live":
            cells.append((cell, COUNTER_MASK, 0, 0, wt, val))
        elif status == "tombstone_retained":
            cells.append((cell, DELETION_MASK, 0, 0, wt,
                          _I32.pack(_ldt_s(wt // 1_000_000))))
        elif status == "range_tombstone_retained":
            cells.append((cell, RANGE_TOMBSTONE_MASK, 0,
                          _ldt_s(wt // 1_000_000), wt, val))
        elif status == "partition_tombstone_retained":
            deletion = (_ldt_s(wt // 1_000_000), wt)
        else:
            raise ValueError(f"unexpected resolved status {status!r}")
    cells.sort(key=lambda c: c[0])
    return cells, deletion


def _add_resolved(w: _TableWriter, key: bytes, resolved: list) -> int:
    """Add one key's resolved rows to ``w`` as a partition (none: no
    partition). Returns the row count."""
    if resolved:
        w.add(key, *_encode_partition(key, *_resolved_partition(resolved)))
    return len(resolved)


def _gc_split(shard_dir: str, data_path: str, start: int, end: int,
              threshold: int) -> tuple[int, int, int]:
    """The GC task: each partition that starts in ``[start, end)`` of
    ``data_path``, parsed one at a time, resolved on its own
    (:func:`_resolve_atoms`) and added to one table at ``shard_dir``.
    Returns ``(n_partitions, n_atoms_in, n_atoms_out)``."""
    n_in = n_out = 0
    with _TableWriter(shard_dir) as w:
        for _, _, part in _partition_records(data_path, start, end,
                                             _parse_partition):
            key, deletion, cells = part
            n_in += len(cells) + (deletion is not None)
            n_out += _add_resolved(w, key, _resolve_atoms((part,),
                                                          threshold))
    return w.n_partitions, n_in, n_out


def _compact_range(shard_dir: str, dirs: list[str], ks: str | None,
                   kp: str | None, threshold: int) -> tuple[int, int]:
    """The compaction task: each key of the streaming merge of ``[ks,
    kp)`` over ``dirs`` (:func:`_merge_range`) added to one table at
    ``shard_dir`` as the merge resolves it. Returns ``(n_partitions,
    n_cells)``."""
    n = 0
    with _TableWriter(shard_dir) as w:
        for key, resolved in _merge_range(dirs, ks, kp, threshold):
            n += _add_resolved(w, key, resolved)
    return w.n_partitions, n


def _claim_out_dir(out_dir: str) -> None:
    """Create ``out_dir``, refusing one that already holds anything: every
    subdirectory with a ``Data.db`` reads back as data
    (:func:`_resolve_table_dirs`), so a stale shard from an earlier run
    would silently join this run's output."""
    if os.path.isdir(out_dir) and os.listdir(out_dir):
        raise ValueError(
            f"output directory {out_dir} is not empty; refusing to mix "
            "its existing contents into this run's output")
    os.makedirs(out_dir, exist_ok=True)


def _rewrite_shards(spark, out_dir: str, specs: list[tuple], task,
                    counts: tuple) -> list:
    """The ONE zero-shuffle rewrite driver behind :func:`rewrite_stripped`,
    :func:`gc_rewrite_single` and :func:`compact_rewrite`, one shard per
    spec. Each spec is ``(shard, *args)``; it runs as
    ``task(out_dir/.tmp-<shard>, *args)``, which writes the shard and
    returns the report's ``counts``, committed to ``out_dir/<shard>`` by
    :func:`_commit_table`. Only specs and report rows cross a process
    boundary; cell bytes never do. The scheduler is the one variable:

    - with a session, one plain RDD job over the specs, at most
      ``defaultParallelism`` tasks in a single stage and a single wave
      (the scale path);
    - with ``spark=None``, a fork-started process pool of one worker per
      local core (:func:`~..session.local_cpus`), created and shut down
      inside the call, so no session is started and no process outlives
      it (the CLI's path). A task's exception reaches the caller with
      its type; a worker that dies raises ``BrokenProcessPool`` naming
      the specs it left unfinished.

    ``out_dir`` must be absent or empty (:func:`_claim_out_dir`). Returns
    one ``Row(shard, *counts)`` per spec, in spec order; no specs = empty
    report."""
    from pyspark.sql import Row

    _claim_out_dir(out_dir)
    if not specs:
        return []
    report = Row("shard", *counts)

    def _run(spec):
        shard, *args = spec
        return report(shard, *_commit_table(
            os.path.join(out_dir, f".tmp-{shard}"),
            os.path.join(out_dir, shard), lambda tmp: task(tmp, *args)))

    if spark is None:
        return _run_on_pool(_run, specs)
    sc = spark.sparkContext
    return (sc.parallelize(specs, min(len(specs), sc.defaultParallelism))
            .map(_run).collect())


#: the spec runner of the pool this worker was forked for; set only in a
#: pool worker, by :func:`_pool_init`
_pool_run = None


def _pool_init(run) -> None:
    global _pool_run
    _pool_run = run


def _pool_call(spec):
    return _pool_run(spec)


def _run_on_pool(run, specs: list[tuple]) -> list:
    """``[run(spec) for spec in specs]`` on a fork-started process pool.
    Fork (not spawn, nor Python 3.14's forkserver default) hands ``run``,
    a closure that does not pickle, to the workers through
    ``initializer`` without pickling it, re-imports nothing and starts no
    server process. The workers run only the codec: they take no lock a
    thread of the parent (py4j's, in a process holding a session) may
    hold, and exit without running the parent's ``atexit`` handlers."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor
    from concurrent.futures.process import BrokenProcessPool

    from cassandra_ttl_remover_spark.session import local_cpus

    pool = ProcessPoolExecutor(
        min(len(specs), local_cpus()),
        mp_context=multiprocessing.get_context("fork"),
        initializer=_pool_init, initargs=(run,))
    futures = []
    try:
        for spec in specs:
            futures.append(pool.submit(_pool_call, spec))
        return [f.result() for f in futures]
    except BrokenProcessPool as e:
        lost = [spec for spec, f in zip(specs, futures)
                if isinstance(f.exception(), BrokenProcessPool)]
        lost += specs[len(futures):]
        raise BrokenProcessPool(f"{e} Unfinished specs: {lost}") from e
    finally:
        pool.shutdown(cancel_futures=True)


def _write_rows(shard_dir: str, rows: Iterable[tuple],
                generation: str = "v1",
                compressed: bool = False) -> tuple[int, int]:
    """The :func:`write_sstable_distributed` task: :data:`SSTABLE_SCHEMA`
    rows in the order a table stores them, each run of one ``pk`` encoded
    as one partition (:func:`_partition_cells`) and added to one table at
    ``shard_dir``, so the task holds one partition's rows whatever its
    shard's size. Returns ``(n_partitions, n_rows)``."""
    n = 0
    with _TableWriter(shard_dir, generation, compressed) as w:
        for pk, part in itertools.groupby(rows, operator.itemgetter(0)):
            part = list(part)
            n += len(part)
            key = _text(pk, pk, "partition key")
            w.add(key, *_encode_partition(key, *_partition_cells(part),
                                          mc=generation == "mc"))
    return w.n_partitions, n


def write_sstable_distributed(cells, out_dir: str, shards: int = 4,
                              generation: str = "v1",
                              compressed: bool = False):
    """Distributed SSTable SINK for an ARBITRARY cell frame in
    :data:`SSTABLE_SCHEMA` shape (queries and streaming shard sets; the
    rewrites of existing tables use the zero-shuffle
    :func:`_rewrite_shards` instead). The frame range-partitions on
    ``pk`` — every cell of a partition lands in ONE shard and shard key
    ranges don't overlap — and is sorted within each range, so each task
    streams ONE sstable, a partition at a time (:func:`_write_rows`),
    committed to ``out_dir/shard=NNNNN`` by :func:`_commit_table` (a
    retried attempt replaces a shard an earlier one committed). Exactly
    one shuffle; the encode is the byte-level inverse of
    :func:`scan_data_range`, so write->scan roundtrips bit-faithfully.
    ``out_dir`` must be absent or empty. Once the job has committed every
    shard, the temp directories of failed or killed attempts are removed.

    Eagerly executes and returns the shard report rows
    ``(shard, n_partitions, n_cells)`` (bounded: one per shard)."""
    import pandas as pd
    from pyspark.sql import functions as F

    _claim_out_dir(out_dir)
    cols = ["pk", "cell", "kind", "ttl", "expiration", "writetime", "value"]

    def _encode(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        shard = f"shard={ctx.partitionId():05d}"
        rows = (r for pdf in batches
                for r in pdf[cols].itertuples(index=False, name=None))
        first = next(rows, None)
        if first is not None:  # an empty range writes no shard
            n_parts, n = _commit_table(
                os.path.join(out_dir, f".tmp-{shard}.{ctx.attemptNumber()}"),
                os.path.join(out_dir, shard),
                lambda tmp: _write_rows(tmp, itertools.chain([first], rows),
                                        generation, compressed))
            yield pd.DataFrame({"shard": [shard],
                                "n_partitions": [n_parts],
                                "n_cells": [n]})

    # repartitionByRange SAMPLES its input to place the range bounds, and
    # that sample job executes the ENTIRE upstream pipeline (here: the
    # binary scan + strip, the expensive Python-source pass) a first
    # time before the real shuffle executes it again. The lazy
    # checkpoint pins one materialization: the sampler and the shuffle
    # both read the cached cell blocks, so the decode pass runs exactly
    # once (measured r12: two full 32-task Python scan stages -> one).
    # At 100 TB this is the standard stage boundary between transform
    # and sink — one materialization of the cells instead of two decode
    # passes over the source.
    # The sort gives each range the order a table stores: keys, then the
    # partition tombstone (NULL cell), then atoms by name (Spark's string
    # order is UTF-8 byte order, the writer's key order); on a name tie a
    # range tombstone first (Cassandra's on-disk atom order), then the
    # other columns, so tied rows always encode the same way.
    report = (
        cells.localCheckpoint(eager=False)
        .repartitionByRange(shards, "pk")
        .sortWithinPartitions("pk", "cell",
                              F.col("kind") != "range_tombstone", "value",
                              "writetime", "kind", "ttl", "expiration")
        .mapInPandas(
            _encode,
            schema="shard string, n_partitions bigint, n_cells bigint",
        )
    ).collect()
    for d in os.listdir(out_dir):
        if d.startswith(".tmp-"):
            shutil.rmtree(os.path.join(out_dir, d))
    return report


# ---------------------------------------------------------------------------
# fixture: events table -> SSTable (mirrors FIXTURES.md cell conventions)
# ---------------------------------------------------------------------------

def events_sstable_fixture(spark, sf_dir: str, out_dir: str,
                           generation: str = "v1",
                           compressed: bool = False,
                           where: str = "TRUE",
                           summary_interval: int = SUMMARY_INTERVAL,
                           colindex_every: int = COLINDEX_EVERY) -> None:
    """Deterministic SSTable fixture over the ``events`` parquet: one
    partition per ``user_id`` (key = ascii of the id), three cells per
    event clustered by zero-padded event_id —
    ``{event_id:012d}:etype|vcents|props``. Cell liveness follows the
    FIXTURES.md convention exactly (writetime = epoch µs; events with
    ``event_id % 10 < 7`` expire with ttl ``(event_id % 30 + 1) * 86400``
    and expiration = epoch s + ttl), except every 97th event's value cell
    is a TOMBSTONE (deleted at epoch s) so the deletion decode path is
    exercised. Every field is recomputable in ANSI SQL — the q_s7 oracle
    does — so the binary scan is hash-checkable end to end. ``where``
    (a deterministic SQL predicate over the events columns) restricts
    the fixture to a key subset — how tests and q_s15 build DISJOINT
    generations of one logical table."""
    import duckdb

    rows = duckdb.sql(
        f"""
        SELECT user_id, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS vcents, props,
               epoch_us(ts) AS wt,
               CASE WHEN event_id % 10 < 7
                    THEN (event_id % 30 + 1) * 86400 END AS ttl,
               epoch_us(ts) // 1000000 AS ts_s
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE {where}
        ORDER BY user_id, event_id
        """
    ).fetchall()
    parts: dict[bytes, list] = {}
    for user_id, event_id, etype, vcents, props, wt, ttl, ts_s in rows:
        key = str(user_id).encode()
        cells = parts.setdefault(key, [])
        base = f"{event_id:012d}:"
        if ttl is not None:
            mask, t, exp = EXPIRATION_MASK, int(ttl), int(ts_s + ttl)
        else:
            mask, t, exp = 0, 0, 0
        cells.append((f"{base}etype".encode(), mask, t, exp, wt,
                      etype.encode()))
        if event_id % 97 == 0:
            cells.append((f"{base}vcents".encode(), DELETION_MASK, 0, 0, wt,
                          struct.pack(">i", int(ts_s))))
        else:
            cells.append((f"{base}vcents".encode(), mask, t, exp, wt,
                          str(vcents).encode()))
        cells.append((f"{base}props".encode(), mask, t, exp, wt,
                      props.encode()))
    write_sstable(parts.items(), out_dir, generation=generation,
                  compressed=compressed, summary_interval=summary_interval,
                  colindex_every=colindex_every)


def sstable_scan_oracle_sql(table: str = "events") -> str:
    """DuckDB recomputation of every flat cell row the binary scan must
    produce from :func:`events_sstable_fixture`'s output."""
    return f"""
WITH e AS (
  SELECT user_id::VARCHAR AS pk,
         printf('%012d', event_id) AS eid,
         event_id, event_type,
         CAST(round(value * 100) AS BIGINT)::VARCHAR AS vcents, props,
         epoch_us(ts) AS wt,
         CASE WHEN event_id % 10 < 7
              THEN (event_id % 30 + 1) * 86400 END AS ttl,
         epoch_us(ts) // 1000000 AS ts_s
  FROM {table}
)
SELECT pk, eid || ':etype' AS cell,
       CASE WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END AS kind,
       ttl::BIGINT AS ttl,
       (ts_s + ttl)::BIGINT AS expiration, wt AS writetime,
       event_type AS value
FROM e
UNION ALL
SELECT pk, eid || ':vcents',
       CASE WHEN event_id % 97 = 0 THEN 'tombstone'
            WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END,
       CASE WHEN event_id % 97 = 0 THEN NULL ELSE ttl END::BIGINT,
       CASE WHEN event_id % 97 = 0 THEN ts_s ELSE ts_s + ttl END::BIGINT,
       wt,
       CASE WHEN event_id % 97 = 0 THEN NULL ELSE vcents END
FROM e
UNION ALL
SELECT pk, eid || ':props',
       CASE WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END,
       ttl::BIGINT, (ts_s + ttl)::BIGINT, wt, props
FROM e
"""


def sstable_slice_oracle_sql(cell_start: str, cell_stop: str,
                             table: str = "events") -> str:
    """Oracle for q_s19: the full-scan recomputation restricted to the
    sliced partition (smallest ``user_id`` — resolved identically by the
    Spark side) and the clustering range. The promoted column index
    changes which BYTES the task decodes, never the rows that come
    back, so the oracle is exactly the slice of
    :func:`sstable_scan_oracle_sql`."""
    return f"""
WITH full_scan AS ({sstable_scan_oracle_sql(table)})
SELECT * FROM full_scan
WHERE pk = (SELECT min(user_id)::VARCHAR FROM {table})
  AND cell >= '{cell_start}' AND cell < '{cell_stop}'
ORDER BY cell
"""


def sstable_bloom_lookup_oracle_sql(table: str = "events") -> str:
    """Oracle for q_s15: the full-scan recomputation restricted to the
    looked-up partition — the smallest even ``user_id`` (the key the
    Spark side resolves identically). The bloom sidecar changes WHICH
    files get probed, never the rows that come back, so the oracle is
    exactly the point-lookup slice of :func:`sstable_scan_oracle_sql`."""
    return f"""
WITH full_scan AS ({sstable_scan_oracle_sql(table)})
SELECT * FROM full_scan
WHERE pk = (SELECT min(user_id) FROM {table}
            WHERE user_id % 2 = 0)::VARCHAR
ORDER BY pk, cell
"""


def strip_ttl_cells(cells):
    """The reference's CORE transform on its native format
    (Cassandra3TTLRemover.java / NoTTLColumnSerializer: an expiring cell
    re-emits as a normal cell — ttl and expiration dropped, name/
    writetime/value untouched), expressed over the flat cell frame.
    Tombstones and normal cells pass through unchanged — and so do
    counter, counter-update, and range-tombstone atoms: counters cannot
    carry TTLs, so the reference preserves them verbatim
    (NoTTLColumnSerializer.java:26-32 re-emits the counter cell
    untouched) and range tombstones round-trip through the unmodified
    rangeTombstoneSerializer (NoTTLSerializer.java:31-33). Pure
    projection: zero shuffle, whole-stage codegen."""
    import pyspark.sql.functions as F

    is_exp = F.col("kind") == "expiring"
    return cells.select(
        "pk", "cell",
        F.when(is_exp, F.lit("normal")).otherwise(F.col("kind")).alias("kind"),
        F.when(is_exp, F.lit(None).cast("bigint"))
        .otherwise(F.col("ttl")).alias("ttl"),
        F.when(is_exp, F.lit(None).cast("bigint"))
        .otherwise(F.col("expiration")).alias("expiration"),
        "writetime", "value",
    )


def events_sstable_fixture_v2(spark, sf_dir: str, out_dir: str,
                              with_partition_deletes: bool = False) -> None:
    """Extended fixture exercising the FULL atom surface the reference
    decodes (NoTTLColumnSerializer.java:26-49 counter / counter-update,
    NoTTLSerializer.java:31 range tombstone) on top of the v1 cell kinds.
    Per event, deterministically from the ``events`` parquet:

    - an ``{eid}:etype`` cell with the v1 expiring/normal rule
      (``event_id % 10 < 7`` expires), so TTL strip interacts with the
      new atoms in the same file;
    - ``event_id % 11 == 0``: a COUNTER cell ``{eid}:cnt`` — value =
      vcents as text, timestampOfLastDelete = writetime - 1_000_000
      (carried in the schema's ``expiration`` column);
    - ``event_id % 11 == 1``: a COUNTER-UPDATE cell ``{eid}:cup``;
    - ``event_id % 13 == 0``: a RANGE TOMBSTONE from ``{eid}:a`` to
      ``{eid}:z`` with localDeletionTime = epoch s and
      markedForDeleteAt = writetime.

    Every field is recomputable in ANSI SQL (the q_s11 oracle does), so
    the counter/RT decode — and their verbatim pass-through under
    :func:`strip_ttl_cells` — is hash-checkable end to end.

    ``with_partition_deletes=True`` additionally marks every
    ``user_id % 17 == 0`` partition's HEADER with a deletion
    (localDeletionTime = the partition's min epoch-s, markedForDeleteAt =
    its min writetime - 1), exercising the partition-tombstone decode
    (q_s14)."""
    import duckdb

    rows = duckdb.sql(
        f"""
        SELECT user_id, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS vcents,
               epoch_us(ts) AS wt,
               CASE WHEN event_id % 10 < 7
                    THEN (event_id % 30 + 1) * 86400 END AS ttl,
               epoch_us(ts) // 1000000 AS ts_s
        FROM read_parquet('{sf_dir}/events.parquet')
        ORDER BY user_id, event_id
        """
    ).fetchall()
    parts: dict[bytes, list] = {}
    bounds: dict[bytes, tuple] = {}
    for user_id, event_id, etype, vcents, wt, ttl, ts_s in rows:
        key = str(user_id).encode()
        cells = parts.setdefault(key, [])
        base = f"{event_id:012d}:"
        if ttl is not None:
            mask, t, exp = EXPIRATION_MASK, int(ttl), int(ts_s + ttl)
        else:
            mask, t, exp = 0, 0, 0
        cells.append((f"{base}etype".encode(), mask, t, exp, wt,
                      etype.encode()))
        if event_id % 11 == 0:
            cells.append((f"{base}cnt".encode(), COUNTER_MASK, 0,
                          wt - 1_000_000, wt, str(vcents).encode()))
        elif event_id % 11 == 1:
            cells.append((f"{base}cup".encode(), COUNTER_UPDATE_MASK, 0, 0,
                          wt, str(vcents).encode()))
        if event_id % 13 == 0:
            cells.append((f"{base}a".encode(), RANGE_TOMBSTONE_MASK, 0,
                          int(ts_s), wt, f"{base}z".encode()))
        if with_partition_deletes and int(user_id) % 17 == 0:
            lo = bounds.get(key)
            bounds[key] = (min(lo[0], int(ts_s)) if lo else int(ts_s),
                           min(lo[1], wt - 1) if lo else wt - 1)
    if with_partition_deletes:
        out = [(k, cs, bounds[k]) if k in bounds else (k, cs)
               for k, cs in parts.items()]
        write_sstable(out, out_dir)
    else:
        write_sstable(parts.items(), out_dir)


def sstable_v2_oracle_sql(stripped: bool, table: str = "events",
                          with_partition_deletes: bool = False) -> str:
    """DuckDB recomputation of every flat row the binary scan of
    :func:`events_sstable_fixture_v2` must produce — ``stripped=True``
    gives the post-:func:`strip_ttl_cells` state (etype cells all
    ``normal`` with NULL ttl/expiration; counter / counter-update /
    range-tombstone atoms byte-identical in both forms)."""
    pd_branch = (
        """UNION ALL
SELECT pk, NULL, 'partition_tombstone', NULL::BIGINT,
       min(ts_s)::BIGINT, min(wt) - 1, NULL
FROM e WHERE pk::BIGINT % 17 = 0 GROUP BY pk"""
        if with_partition_deletes else "")
    etype_kind = ("'normal'" if stripped else
                  "CASE WHEN ttl IS NOT NULL THEN 'expiring' "
                  "ELSE 'normal' END")
    etype_ttl = "NULL::BIGINT" if stripped else "ttl::BIGINT"
    etype_exp = "NULL::BIGINT" if stripped else "(ts_s + ttl)::BIGINT"
    return f"""
WITH e AS (
  SELECT user_id::VARCHAR AS pk,
         printf('%012d', event_id) AS eid,
         event_id, event_type,
         CAST(round(value * 100) AS BIGINT)::VARCHAR AS vcents,
         epoch_us(ts) AS wt,
         CASE WHEN event_id % 10 < 7
              THEN (event_id % 30 + 1) * 86400 END AS ttl,
         epoch_us(ts) // 1000000 AS ts_s
  FROM {table}
)
SELECT pk, eid || ':etype' AS cell, {etype_kind} AS kind,
       {etype_ttl} AS ttl, {etype_exp} AS expiration,
       wt AS writetime, event_type AS value
FROM e
UNION ALL
SELECT pk, eid || ':cnt', 'counter', NULL::BIGINT,
       (wt - 1000000)::BIGINT, wt, vcents
FROM e WHERE event_id % 11 = 0
UNION ALL
SELECT pk, eid || ':cup', 'counter_update', NULL::BIGINT, NULL::BIGINT,
       wt, vcents
FROM e WHERE event_id % 11 = 1
UNION ALL
SELECT pk, eid || ':a', 'range_tombstone', NULL::BIGINT, ts_s::BIGINT,
       wt, eid || ':z'
FROM e WHERE event_id % 13 = 0
{pd_branch}
"""


def events_sstable_update_fixture_v2(spark, sf_dir: str,
                                     out_dir: str) -> None:
    """Generation 2 over :func:`events_sstable_fixture_v2`'s table — the
    UPDATE side of the cross-generation merge interactions
    :func:`~..operators.compact.compact_atoms` defines (the deletion
    granularities the round-7 merge skipped, VERDICT r7 "What's missing
    #1", plus the counter stance). Deterministically from ``events``:

    - ``event_id % 5 == 0``: the etype cell REWRITTEN one second later
      (normal — post-migration writes carry no TTL) as ``U:<etype>``;
    - ``event_id % 11 == 0``: a second COUNTER SHARD on ``:cnt`` three
      seconds later with value ``vcents + 7`` (the additive-merge
      proof: merged counter = ``2 * vcents + 7`` unless deleted);
    - ``event_id % 13 == 9``: a RANGE TOMBSTONE ``[{eid}:a, {eid}:z]``
      at +4 s (disjoint from gen 1's ``% 13 == 0`` RTs) — shadows that
      event's gen-1 cells AND this generation's own +1/+3 s updates,
      ties included;
    - ``user_id % 23 == 0``: a PARTITION DELETE in the header at
      ``min(writetime over the user's events) + 1`` — shadows exactly
      the earliest event's atoms across ALL generations (gen 1's
      ``% 17`` partition deletes sit at ``min - 1`` and shadow nothing:
      the cross-generation max-of-deletes proof).

    Cells are sorted by name within each partition (the writer cell
    invariant); same-name atoms live in DIFFERENT generations (gen 3
    carries the deletes), as Cassandra's memtable flush guarantees.
    Every interaction is recomputable in ANSI SQL
    (:func:`sstable_compact_v2_atoms_sql` is the atom union the
    q_t8/q_t9 oracles compact)."""
    import duckdb

    rows = duckdb.sql(
        f"""
        SELECT user_id, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS vcents,
               epoch_us(ts) AS wt,
               epoch_us(ts) // 1000000 AS ts_s
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE event_id % 5 = 0 OR event_id % 11 = 0 OR event_id % 13 = 9
        ORDER BY user_id, event_id
        """
    ).fetchall()
    pd_rows = duckdb.sql(
        f"""
        SELECT user_id, min(epoch_us(ts)) AS min_wt,
               min(epoch_us(ts) // 1000000) AS min_ts_s
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE user_id % 23 = 0 GROUP BY user_id
        """
    ).fetchall()
    parts: dict[bytes, list] = {}
    for user_id, event_id, etype, vcents, wt, ts_s in rows:
        key = str(user_id).encode()
        cells = parts.setdefault(key, [])
        base = f"{event_id:012d}:"
        if event_id % 5 == 0:
            cells.append((f"{base}etype".encode(), 0, 0, 0,
                          wt + 1_000_000, f"U:{etype}".encode()))
        if event_id % 11 == 0:
            cells.append((f"{base}cnt".encode(), COUNTER_MASK, 0,
                          wt + 2_000_000, wt + 3_000_000,
                          str(vcents + 7).encode()))
        if event_id % 13 == 9:
            cells.append((f"{base}a".encode(), RANGE_TOMBSTONE_MASK, 0,
                          int(ts_s) + 4, wt + 4_000_000,
                          f"{base}z".encode()))
    deletions = {
        str(user_id).encode(): (int(min_ts_s) + 1, int(min_wt) + 1)
        for user_id, min_wt, min_ts_s in pd_rows
    }
    for k in deletions:
        parts.setdefault(k, [])
    out = [
        (k, sorted(cells, key=lambda c: c[0]), deletions[k])
        if k in deletions else (k, sorted(cells, key=lambda c: c[0]))
        for k, cells in parts.items()
    ]
    write_sstable(out, out_dir)


def events_sstable_delete_fixture_v2(spark, sf_dir: str,
                                     out_dir: str) -> None:
    """Generation 3 — the DELETE side (cell tombstones live in their own
    generation so no generation ever carries two same-named cells, the
    memtable-flush invariant). Deterministically from ``events``:

    - ``event_id % 19 == 0``: a cell TOMBSTONE on etype two seconds
      after the original write;
    - ``event_id % 33 == 0`` (and not ``% 44``): a counter DELETE on
      ``:cnt`` at +2.5 s — kills the gen-1 shard, gen 2's +3 s shard
      survives (partial counter delete);
    - ``event_id % 44 == 0``: a counter DELETE on ``:cnt`` at +9 s —
      kills both shards (full delete -> the tombstone is the winner)."""
    import duckdb

    rows = duckdb.sql(
        f"""
        SELECT user_id, event_id, epoch_us(ts) AS wt,
               epoch_us(ts) // 1000000 AS ts_s
        FROM read_parquet('{sf_dir}/events.parquet')
        WHERE event_id % 19 = 0 OR event_id % 33 = 0 OR event_id % 44 = 0
        ORDER BY user_id, event_id
        """
    ).fetchall()
    parts: dict[bytes, list] = {}
    for user_id, event_id, wt, ts_s in rows:
        key = str(user_id).encode()
        cells = parts.setdefault(key, [])
        base = f"{event_id:012d}:"
        if event_id % 19 == 0:
            cells.append((f"{base}etype".encode(), DELETION_MASK, 0, 0,
                          wt + 2_000_000, struct.pack(">i", int(ts_s) + 2)))
        if event_id % 33 == 0 and event_id % 44 != 0:
            cells.append((f"{base}cnt".encode(), DELETION_MASK, 0, 0,
                          wt + 2_500_000, struct.pack(">i", int(ts_s) + 2)))
        if event_id % 44 == 0:
            cells.append((f"{base}cnt".encode(), DELETION_MASK, 0, 0,
                          wt + 9_000_000, struct.pack(">i", int(ts_s) + 9)))
    out = [(k, sorted(cells, key=lambda c: c[0]))
           for k, cells in parts.items() if cells]
    write_sstable(out, out_dir)


def sstable_compact_v2_atoms_sql(table: str = "events") -> str:
    """The atom UNION of the three v2 generations
    (:func:`events_sstable_fixture_v2` ``with_partition_deletes=True`` +
    :func:`events_sstable_update_fixture_v2` +
    :func:`events_sstable_delete_fixture_v2`) in SSTABLE_SCHEMA shape —
    the input the q_t8/q_t9 oracles feed through
    :func:`~..operators.compact.compact_atoms_oracle_sql`."""
    return f"""
WITH e AS (
  SELECT user_id::VARCHAR AS pk, user_id,
         printf('%012d', event_id) AS eid,
         event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS vcents,
         epoch_us(ts) AS wt,
         CASE WHEN event_id % 10 < 7
              THEN (event_id % 30 + 1) * 86400 END AS ttl,
         epoch_us(ts) // 1000000 AS ts_s
  FROM {table}
)
-- generation 1: events_sstable_fixture_v2(with_partition_deletes=True)
SELECT pk, eid || ':etype' AS cell,
       CASE WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END AS kind,
       ttl::BIGINT AS ttl, (ts_s + ttl)::BIGINT AS expiration,
       wt AS writetime, event_type AS value
FROM e
UNION ALL
SELECT pk, eid || ':cnt', 'counter', NULL::BIGINT,
       (wt - 1000000)::BIGINT, wt, vcents::VARCHAR
FROM e WHERE event_id % 11 = 0
UNION ALL
SELECT pk, eid || ':cup', 'counter_update', NULL::BIGINT, NULL::BIGINT,
       wt, vcents::VARCHAR
FROM e WHERE event_id % 11 = 1
UNION ALL
SELECT pk, eid || ':a', 'range_tombstone', NULL::BIGINT, ts_s::BIGINT,
       wt, eid || ':z'
FROM e WHERE event_id % 13 = 0
UNION ALL
SELECT pk, NULL, 'partition_tombstone', NULL::BIGINT,
       min(ts_s)::BIGINT, min(wt) - 1, NULL
FROM e WHERE user_id % 17 = 0 GROUP BY pk
-- generations 2+3: update + delete fixtures
UNION ALL
SELECT pk, eid || ':etype', 'normal', NULL::BIGINT, NULL::BIGINT,
       wt + 1000000, 'U:' || event_type
FROM e WHERE event_id % 5 = 0
UNION ALL
SELECT pk, eid || ':etype', 'tombstone', NULL::BIGINT,
       (ts_s + 2)::BIGINT, wt + 2000000, NULL
FROM e WHERE event_id % 19 = 0
UNION ALL
SELECT pk, eid || ':cnt', 'counter', NULL::BIGINT,
       (wt + 2000000)::BIGINT, wt + 3000000, (vcents + 7)::VARCHAR
FROM e WHERE event_id % 11 = 0
UNION ALL
SELECT pk, eid || ':cnt', 'tombstone', NULL::BIGINT,
       (ts_s + 2)::BIGINT, wt + 2500000, NULL
FROM e WHERE event_id % 33 = 0 AND event_id % 44 <> 0
UNION ALL
SELECT pk, eid || ':cnt', 'tombstone', NULL::BIGINT,
       (ts_s + 9)::BIGINT, wt + 9000000, NULL
FROM e WHERE event_id % 44 = 0
UNION ALL
SELECT pk, eid || ':a', 'range_tombstone', NULL::BIGINT,
       (ts_s + 4)::BIGINT, wt + 4000000, eid || ':z'
FROM e WHERE event_id % 13 = 9
UNION ALL
SELECT pk, NULL, 'partition_tombstone', NULL::BIGINT,
       (min(ts_s) + 1)::BIGINT, min(wt) + 1, NULL
FROM e WHERE user_id % 23 = 0 GROUP BY pk
"""


def compact_rewrite(spark, path: str, out_dir: str, *, gc_grace_us: int,
                    now_us: int, num_splits: int = 8) -> list:
    """MAJOR COMPACTION, end to end on the native format: the streaming
    k-way merge of :func:`merge_compact_sorted` (full deletion-atom
    semantics), each key's survivors added to the merging task's shard
    as soon as the key is resolved (:func:`_compact_range`), so a task
    holds one partition per generation, not its key range. The operation
    a user of the reference runs AFTER the TTL strip, and the one that
    consolidates: N overlapping generations in, one sorted
    non-overlapping shard per merge range out (``out_dir/shard=NNNNN``,
    at most ``num_splits``), deletes preserved until gc_grace ("deletes
    are data", SURVEY §1.2). The ranges run as one Spark job on
    ``spark``, or on a local process pool when ``spark`` is ``None``
    (:func:`_rewrite_shards`).

    Atoms stay bytes from parse to encode, so any key, name or value
    bytes carry through; they re-encode through
    :func:`_resolved_partition`, the documented lossy-where-compaction-is
    reconstruction. Scale: no cell byte
    crosses the network — the merge and the encode share one task.
    ``out_dir`` must be absent or empty. Returns one report row
    ``(shard, n_partitions, n_cells)`` per merge range."""
    dirs = _resolve_table_dirs(path)
    threshold = int(now_us) - int(gc_grace_us)
    specs = [(f"shard={i:05d}", dirs, ks, kp, threshold) for i, (ks, kp)
             in enumerate(_merge_ranges(dirs, num_splits))]
    return _rewrite_shards(spark, out_dir, specs, _compact_range,
                           ("n_partitions", "n_cells"))


def compact_rewrite_oracle_sql(atoms_sql: str, *, gc_grace_us: int,
                               now_us: int) -> str:
    """DuckDB mirror of scanning :func:`compact_rewrite`'s output: the
    :func:`~..operators.compact.compact_atoms_oracle_sql` state mapped
    through the same deterministic atom reconstruction as
    :func:`_resolved_partition` (status -> kind; retained deletions take
    their writetime's second as localDeletionTime)."""
    from cassandra_ttl_remover_spark.operators.compact import (
        compact_atoms_oracle_sql,
    )

    inner = compact_atoms_oracle_sql(
        atoms_sql, gc_grace_us=gc_grace_us, now_us=now_us)
    return f"""
WITH merged AS ({inner})
SELECT pk, cell,
       CASE status
         WHEN 'live' THEN 'normal'
         WHEN 'counter_live' THEN 'counter'
         WHEN 'tombstone_retained' THEN 'tombstone'
         WHEN 'range_tombstone_retained' THEN 'range_tombstone'
         ELSE 'partition_tombstone' END AS kind,
       NULL::BIGINT AS ttl,
       CASE
         WHEN status = 'counter_live' THEN 0
         WHEN status IN ('tombstone_retained', 'range_tombstone_retained',
                         'partition_tombstone_retained')
           THEN writetime // 1000000
         ELSE NULL END::BIGINT AS expiration,
       writetime, value
FROM merged
"""


def plan_compaction_stcs(spark, path: str, *,
                         min_threshold: int = 2) -> "DataFrame":
    """Size-tiered compaction PLANNING (Cassandra's STCS, the default
    strategy the reference's tables compact under): group generations
    into size classes and nominate every class holding at least
    ``min_threshold`` tables as a merge group — the operator's "what
    should compact next" question. Size measure here is the
    Statistics.db CELL COUNT (deterministic and oracle-recomputable;
    at byte scale the same rule runs on file sizes), classed by
    floor(log2(n_cells)) computed EXACTLY as the bit length of the
    count (``length(bin(n)) - 1`` — identical integer arithmetic in
    Spark and DuckDB, no float edge at powers of two): Cassandra's
    bucketing clusters tables within ~2x of each other, which log2
    classes express exactly and portably.

    Metadata-only: one fixed-size sidecar read per table, zero Data.db
    bytes — at a million-sstable fleet this is a listing plus one small
    parallel pass (the stats_census shape). Emits one row per table:
    ``(generation, n_cells, size_class, group_n, compact)`` where
    ``compact`` marks members of merge-eligible classes."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    census = stats_census(spark, path).select("generation", "n_cells")
    cls = F.expr("length(bin(greatest(n_cells, 1))) - 1")
    w = Window.partitionBy("size_class")
    return (
        census.withColumn("size_class", cls.cast("bigint"))
        .withColumn("group_n", F.count("*").over(w).cast("bigint"))
        .withColumn("compact", F.col("group_n") >= F.lit(min_threshold))
        .orderBy("generation")
    )


def plan_compaction_twcs(spark, path: str, *, window_us: int,
                         min_threshold: int = 2) -> "DataFrame":
    """Time-window compaction PLANNING (Cassandra's TWCS — THE strategy
    for TTL'd time-series workloads, i.e. exactly the tables the
    reference tool migrates): bucket generations by the time window of
    their MAX writetime (Statistics.db, zero data bytes) and nominate
    windows holding >= ``min_threshold`` tables. Past windows compact
    once and then stay immutable — the property that makes TTL'd data
    cheap to expire by whole-sstable drop, which is why the
    strip-then-compact migration this engine implements preserves
    writetimes bit-exactly (SURVEY §2.3).

    Emits ``(generation, max_writetime, time_window, group_n,
    compact)``; empty tables (NULL max) land in window NULL and never
    nominate."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    census = stats_census(spark, path).select(
        "generation", "max_writetime")
    win = F.expr(f"max_writetime div {int(window_us)}")  # exact int div
    w = Window.partitionBy("time_window")
    return (
        census.withColumn("time_window", win)
        .withColumn(
            "group_n",
            F.when(
                F.col("time_window").isNotNull(),
                F.count("time_window").over(w),
            ).otherwise(F.lit(0)).cast("bigint"))
        .withColumn("compact", F.col("group_n") >= F.lit(min_threshold))
        .orderBy("generation")
    )


def diff_replicas(spark, path_a: str, path_b: str, *,
                  n_buckets: int = 16) -> "DataFrame":
    """Anti-entropy REPAIR comparison between two replicas of a native
    table — Cassandra's repair Merkle walk, single-level: each side
    reduces to one order-independent digest per key bucket
    (:func:`~..operators.audit.table_digest`'s construction), the
    buckets full-outer join, and only mismatched buckets ever need data
    movement. At fleet scale each side is ONE scan + a map-side-combined
    bucket aggregate; the join carries ``n_buckets`` rows — replicas
    never ship cells to compare, which is the entire point of repair
    digests. Buckets key on a portable md5-derived hash of the partition
    key (the token-range analog), and every nullable column coalesces to
    ``''`` inside the canonical string so the DuckDB oracle's ``||``
    concatenation cannot diverge on NULLs.

    Emits one row per bucket:
    ``(bucket, n_rows_a, digest_a, n_rows_b, digest_b, match)``."""
    from pyspark.sql import functions as F

    from cassandra_ttl_remover_spark.operators.audit import table_digest

    cols = ["pk", "cell", "kind", "ttl", "expiration", "writetime",
            "value"]

    def side(p):
        cells = scan_sstable(spark, p).select(
            *[F.expr(f"coalesce(cast(`{c}` as string), '')").alias(c)
              for c in cols],
            F.expr("cast(conv(substr(md5(pk), 1, 15), 16, 10) "
                   "as bigint)").alias("_bk"),
        )
        return table_digest(cells, cols, "_bk", n_buckets)

    a = side(path_a).alias("a")
    b = side(path_b).alias("b")
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"), "full_outer")
        .select(
            F.coalesce(F.col("a.bucket"), F.col("b.bucket"))
            .alias("bucket"),
            F.col("a.n_rows").alias("n_rows_a"),
            F.col("a.digest").alias("digest_a"),
            F.col("b.n_rows").alias("n_rows_b"),
            F.col("b.digest").alias("digest_b"),
            (F.col("a.n_rows").eqNullSafe(F.col("b.n_rows"))
             & F.col("a.digest").eqNullSafe(F.col("b.digest")))
            .alias("match"),
        )
        .orderBy("bucket")
    )


def replica_diff_oracle_sql(where_b: str, *, n_buckets: int = 16,
                            table: str = "events") -> str:
    """DuckDB mirror of :func:`diff_replicas` over two
    :func:`events_sstable_fixture` replicas — replica A unrestricted,
    replica B built with ``where_b`` — recomputing both sides' bucket
    digests from the events table (same canonical string, same
    md5-derived buckets, same pmod convention as the q_d3 oracle)."""
    from cassandra_ttl_remover_spark.operators.audit import (
        _DIGEST_MOD,
        duck_digest_leaf_sql,
        duck_pmod_sql,
    )

    scan = sstable_scan_oracle_sql(table)
    scan_b = sstable_scan_oracle_sql(
        f"(SELECT * FROM {table} WHERE {where_b})")
    canon = " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), '')"
        for c in ["pk", "cell", "kind", "ttl", "expiration", "writetime",
                  "value"])
    leaf = duck_digest_leaf_sql(canon)
    # the bucket hashes the pk ALONE (the token-range analog); one
    # shared leaf/pmod construction with the q_d3 oracle (audit.py)
    bk = duck_pmod_sql(duck_digest_leaf_sql("pk"), n_buckets)
    return f"""
WITH a_rows AS ({scan}), b_rows AS ({scan_b}),
a AS (
  SELECT {bk}::INT AS bucket, count(*)::BIGINT AS n_rows,
         CAST(sum({leaf}::HUGEINT) % {_DIGEST_MOD} AS BIGINT) AS digest
  FROM a_rows GROUP BY 1
),
b AS (
  SELECT {bk}::INT AS bucket, count(*)::BIGINT AS n_rows,
         CAST(sum({leaf}::HUGEINT) % {_DIGEST_MOD} AS BIGINT) AS digest
  FROM b_rows GROUP BY 1
)
SELECT COALESCE(a.bucket, b.bucket) AS bucket,
       a.n_rows AS n_rows_a, a.digest AS digest_a,
       b.n_rows AS n_rows_b, b.digest AS digest_b,
       (a.n_rows IS NOT DISTINCT FROM b.n_rows
        AND a.digest IS NOT DISTINCT FROM b.digest) AS match
FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
ORDER BY bucket
"""


def droppable_census(spark, path: str, *, gc_grace_us: int,
                     now_us: int) -> "DataFrame":
    """Droppable-tombstone census per generation — the
    ``sstablemetadata`` estimate operators feed into compaction
    candidate selection (a table whose deletes are past gc_grace is
    pure reclaimable space; Cassandra picks single-table GC targets by
    exactly this ratio). Exact counts, not estimates, since this
    engine parses the real atoms (:func:`_parse_partition`; keys, names
    and values of any bytes count):

    - ``n_atoms``: every decoded atom (cells + deletion atoms);
    - ``n_deletes``: deletion atoms of all three granularities;
    - ``n_droppable_deletes``: deletion atoms with
      ``writetime <= now - gc_grace`` (purgeable NOW by
      :func:`~..operators.compact.compact_atoms`'s rule);
    - ``n_expired``: expiring cells whose ``expiration`` second has
      passed ``now - gc_grace`` — the cells that would convert to
      already-droppable tombstones at the next compaction.

    One task per table (the scrub/census fan-out), zero shuffle, one
    result row per generation."""
    thr_us = int(now_us) - int(gc_grace_us)
    thr_s = thr_us // 1_000_000

    def _count(d):
        n = dels = drop = exp = 0
        for _, deletion, cells in _table_partitions(d):
            if deletion is not None:  # a deletion atom too
                cells = [(0, DELETION_MASK, 0, 0, deletion[1], 0), *cells]
            n += len(cells)
            for _, mask, _, expiration, wt, _ in cells:
                if mask in (DELETION_MASK, RANGE_TOMBSTONE_MASK):
                    dels += 1
                    drop += wt <= thr_us
                elif mask == EXPIRATION_MASK and expiration <= thr_s:
                    exp += 1
        return {"generation": os.path.basename(d), "n_atoms": n,
                "n_deletes": dels, "n_droppable_deletes": drop,
                "n_expired": exp}

    return _per_table(spark, path, _count,
                      "generation string, n_atoms bigint, n_deletes bigint,"
                      " n_droppable_deletes bigint, n_expired bigint"
                      ).orderBy("generation")


def droppable_census_oracle_sql(*, gc_grace_us: int, now_us: int,
                                table: str = "events") -> str:
    """DuckDB recomputation of :func:`droppable_census` over the
    three-generation compaction fixture
    (:func:`sstable_compact_v2_atoms_sql`'s per-generation rules)."""
    thr_us = int(now_us) - int(gc_grace_us)
    thr_s = thr_us // 1_000_000
    return f"""
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS wt,
         CASE WHEN event_id % 10 < 7
              THEN (event_id % 30 + 1) * 86400 END AS ttl,
         epoch_us(ts) // 1000000 AS ts_s
  FROM {table}
),
atoms AS (
  -- gen1: etype (expiring rule) + cnt/cup + RT(%13=0) + PD(user%17=0)
  SELECT 'gen1' AS generation,
         CASE WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END
           AS kind,
         (ts_s + ttl)::BIGINT AS expiration, wt FROM e
  UNION ALL
  SELECT 'gen1', 'counter', NULL, wt FROM e WHERE event_id % 11 = 0
  UNION ALL
  SELECT 'gen1', 'counter_update', NULL, wt FROM e
  WHERE event_id % 11 = 1
  UNION ALL
  SELECT 'gen1', 'range_tombstone', NULL, wt FROM e
  WHERE event_id % 13 = 0
  UNION ALL
  SELECT 'gen1', 'partition_tombstone', NULL, min(wt) - 1 FROM e
  WHERE user_id % 17 = 0 GROUP BY user_id
  -- gen2: rewrites + counter shards + RT(%13=9) + PD(user%23=0)
  UNION ALL
  SELECT 'gen2', 'normal', NULL, wt + 1000000 FROM e
  WHERE event_id % 5 = 0
  UNION ALL
  SELECT 'gen2', 'counter', NULL, wt + 3000000 FROM e
  WHERE event_id % 11 = 0
  UNION ALL
  SELECT 'gen2', 'range_tombstone', NULL, wt + 4000000 FROM e
  WHERE event_id % 13 = 9
  UNION ALL
  SELECT 'gen2', 'partition_tombstone', NULL, min(wt) + 1 FROM e
  WHERE user_id % 23 = 0 GROUP BY user_id
  -- gen3: cell + counter deletes
  UNION ALL
  SELECT 'gen3', 'tombstone', NULL, wt + 2000000 FROM e
  WHERE event_id % 19 = 0
  UNION ALL
  SELECT 'gen3', 'tombstone', NULL, wt + 2500000 FROM e
  WHERE event_id % 33 = 0 AND event_id % 44 <> 0
  UNION ALL
  SELECT 'gen3', 'tombstone', NULL, wt + 9000000 FROM e
  WHERE event_id % 44 = 0
)
SELECT generation,
       count(*)::BIGINT AS n_atoms,
       sum(CASE WHEN kind IN ('tombstone', 'range_tombstone',
                              'partition_tombstone')
                THEN 1 ELSE 0 END)::BIGINT AS n_deletes,
       sum(CASE WHEN kind IN ('tombstone', 'range_tombstone',
                              'partition_tombstone')
                 AND wt <= {thr_us} THEN 1 ELSE 0 END)::BIGINT
         AS n_droppable_deletes,
       sum(CASE WHEN kind = 'expiring' AND expiration <= {thr_s}
                THEN 1 ELSE 0 END)::BIGINT AS n_expired
FROM atoms GROUP BY generation ORDER BY generation
"""


def gc_rewrite_single(spark, path: str, out_dir: str, *,
                      gc_grace_us: int, now_us: int,
                      num_splits: int = 8) -> list:
    """Single-table garbage collection — the ``sstablegarbagecollect``
    analog: apply compact_atoms' shadowing rule WITHIN each generation
    independently (no cross-generation merge), dropping data its own
    deletes shadow and purging deletes past gc_grace. The everyday ops
    move when one table is bloated with expired deletes but a full
    cross-generation compaction is too expensive. It runs on the same
    zero-shuffle driver as :func:`rewrite_stripped`
    (:func:`_rewrite_shards`: one Spark job on ``spark``, a local process
    pool when ``spark`` is ``None``): each index-snapped split resolves
    and re-encodes its partitions one at a time, so a task holds one
    partition (:func:`_gc_split`; a deletion atom lives in the partition
    it shadows), with the SAME :func:`_resolve_atoms` and
    :func:`_resolved_partition` as :func:`compact_rewrite`, on byte atoms
    (any key, name or value bytes carry through).

    Output layout is rewrite_stripped's (``out_dir/<generation>_shard=
    <split>``, all sidecars, digest-clean); a fully-purged split still
    writes its (empty) sstable — the PRIME gc target is a table whose
    deletes all lapsed — and still reports. ``out_dir`` must be absent
    or empty. Returns the per-shard report rows ``(shard, n_partitions,
    n_atoms_in, n_atoms_out)``."""
    threshold = int(now_us) - int(gc_grace_us)
    return _rewrite_shards(
        spark, out_dir,
        [(*spec, threshold) for spec in _split_specs(path, num_splits)],
        _gc_split, ("n_partitions", "n_atoms_in", "n_atoms_out"))


def sstable_v2_gen1_atoms_sql(table: str = "events") -> str:
    """Generation-1 atoms ALONE (the
    :func:`events_sstable_fixture_v2` ``with_partition_deletes=True``
    rules — the gen-1 subset of :func:`sstable_compact_v2_atoms_sql`,
    kept textually in sync with it) — the input the single-table GC
    oracle compacts."""
    return f"""
WITH e AS (
  SELECT user_id::VARCHAR AS pk, user_id,
         printf('%012d', event_id) AS eid,
         event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS vcents,
         epoch_us(ts) AS wt,
         CASE WHEN event_id % 10 < 7
              THEN (event_id % 30 + 1) * 86400 END AS ttl,
         epoch_us(ts) // 1000000 AS ts_s
  FROM {table}
)
SELECT pk, eid || ':etype' AS cell,
       CASE WHEN ttl IS NOT NULL THEN 'expiring' ELSE 'normal' END AS kind,
       ttl::BIGINT AS ttl, (ts_s + ttl)::BIGINT AS expiration,
       wt AS writetime, event_type AS value
FROM e
UNION ALL
SELECT pk, eid || ':cnt', 'counter', NULL::BIGINT,
       (wt - 1000000)::BIGINT, wt, vcents::VARCHAR
FROM e WHERE event_id % 11 = 0
UNION ALL
SELECT pk, eid || ':cup', 'counter_update', NULL::BIGINT, NULL::BIGINT,
       wt, vcents::VARCHAR
FROM e WHERE event_id % 11 = 1
UNION ALL
SELECT pk, eid || ':a', 'range_tombstone', NULL::BIGINT, ts_s::BIGINT,
       wt, eid || ':z'
FROM e WHERE event_id % 13 = 0
UNION ALL
SELECT pk, NULL, 'partition_tombstone', NULL::BIGINT,
       min(ts_s)::BIGINT, min(wt) - 1, NULL
FROM e WHERE user_id % 17 = 0 GROUP BY pk
"""
