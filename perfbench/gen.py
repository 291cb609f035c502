"""Seeded input generator for the benchmark workloads.

Every input the program sees is built here from the seed alone: the same
seed gives byte-identical files. SSTable inputs go through the package's
public ``write_sstable``; the parquet and document inputs through pyarrow.
Each generator returns a manifest: the workload's input properties (what
the system's behaviour depends on) plus the ground truth the output checks
compare against.

Run standalone to generate one workload's inputs:

    python3 perfbench/gen.py --workload sstable_strip --seed 1 --out DIR

which writes ``DIR/manifest.json`` next to the inputs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import struct
import sys

#: writetime origin (epoch µs); generations are spaced GEN_US apart so a
#: later generation's atoms are always newer than an earlier one's
BASE_US = 1_700_000_000_000_000
GEN_US = 10**12
SPAN_US = 10**9

DELETION_MASK = 0x01
EXPIRATION_MASK = 0x02
COUNTER_MASK = 0x04
COUNTER_UPDATE_MASK = 0x08
RANGE_TOMBSTONE_MASK = 0x10

#: share of expiring cells, and of cell tombstones, in the strip inputs
#: (SSTable and parquet)
EXPIRING_SHARE = 0.7
TOMBSTONE_SHARE = 0.03
#: sstable_strip: share of partitions carrying a partition tombstone
STRIP_PARTITION_TOMBSTONE_SHARE = 0.02
#: sstable_compact: per later generation, the share of a revisited
#: partition's cells it overwrites and the share of those it deletes; the
#: share of partitions given a range tombstone (generation 2) or a
#: partition tombstone (generation 3); the share of partitions with counters
UPDATE_SHARE = 0.3
DELETE_SHARE = 0.05
RANGE_TOMBSTONE_SHARE = 0.1
COMPACT_PARTITION_TOMBSTONE_SHARE = 0.03
COUNTER_SHARE = 0.2
#: parquet_strip: rows per partition key
ROWS_PER_PARTITION = 8
#: curate: share of documents copied verbatim, and copied with one or two
#: words replaced
EXACT_DUP_SHARE = 0.1
NEAR_DUP_SHARE = 0.1

#: input sizes per generated input set
SIZES = {
    "sstable_strip": {"partitions": 750, "cells_per_partition": 200},
    "sstable_compact": {"partitions": 600, "cells_per_partition": 60},
    "parquet_strip": {"rows": 200_000, "files": 8},
    "curate": {"docs": 5000},
}


def row_hash(row: tuple) -> int:
    """64-bit digest of one output row; summing it over a table gives an
    order-insensitive fingerprint of the row multiset."""
    return int.from_bytes(
        hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "big")


def multiset_hash(rows) -> str:
    return f"{sum(row_hash(r) for r in rows) % (1 << 64):016x}"


def _value_pool(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz0123456789"
    return ["".join(rng.choices(letters, k=rng.randint(lo, hi)))
            for _ in range(n)]


def _pk(rng: random.Random, seen: set) -> bytes:
    while True:
        k = f"{rng.getrandbits(48):012x}".encode()
        if k not in seen:
            seen.add(k)
            return k


def _ldt(wt_us: int) -> int:
    return wt_us // 1_000_000


# ---------------------------------------------------------------------------
# sstable_strip: one generation, expiring-heavy, cell + partition tombstones
# ---------------------------------------------------------------------------

def gen_sstable_strip(seed: int, out: str, partitions: int,
                      cells_per_partition: int) -> dict:
    from cassandra_ttl_remover_spark.sources.sstable import write_sstable

    rng = random.Random(seed)
    pool = _value_pool(rng, 4096, 8, 32)
    cols = ("body", "score", "tag")
    seen: set = set()
    parts = []
    truth = []  # (pk, cell, writetime, value) of every scanned row
    kinds = {"normal": 0, "tombstone": 0, "partition_tombstone": 0}
    n_exp = value_bytes = 0
    for _ in range(partitions):
        key = _pk(rng, seen)
        pk = key.decode()
        cells = []
        for i in range(cells_per_partition):
            name = f"{i // len(cols):06d}:{cols[i % len(cols)]}"
            wt = BASE_US + rng.randrange(SPAN_US)
            r = rng.random()
            if r < TOMBSTONE_SHARE:
                ldt = _ldt(wt)
                cells.append((name.encode(), DELETION_MASK, 0, 0, wt,
                              struct.pack(">i", ldt)))
                truth.append((pk, name, wt, None))
                kinds["tombstone"] += 1
                continue
            val = pool[rng.randrange(len(pool))]
            value_bytes += len(val)
            if r < TOMBSTONE_SHARE + EXPIRING_SHARE:
                ttl = rng.randint(1, 30) * 86400
                cells.append((name.encode(), EXPIRATION_MASK, ttl,
                              _ldt(wt) + ttl, wt, val.encode()))
                n_exp += 1
            else:
                cells.append((name.encode(), 0, 0, 0, wt, val.encode()))
            truth.append((pk, name, wt, val))
            kinds["normal"] += 1  # expiring folds into normal after strip
        if rng.random() < STRIP_PARTITION_TOMBSTONE_SHARE:
            mfda = BASE_US - rng.randrange(1, SPAN_US)
            parts.append((key, cells, (_ldt(mfda), mfda)))
            truth.append((pk, None, mfda, None))
            kinds["partition_tombstone"] += 1
        else:
            parts.append((key, cells))
    table = os.path.join(out, "input")
    write_sstable(parts, table)
    n_cells = partitions * cells_per_partition
    return {
        "input": table,
        "properties": {
            "partitions": partitions,
            "cells_per_partition": cells_per_partition,
            "cells": n_cells,
            "expiring_share": round(n_exp / n_cells, 4),
            "tombstone_share": round(kinds["tombstone"] / n_cells, 4),
            "partition_tombstones": kinds["partition_tombstone"],
            "value_bytes": value_bytes,
        },
        "expect": {
            "rows": len(truth),
            "kinds": kinds,
            "expiring_in": n_exp,
            "partitions": partitions,
            "hash": multiset_hash(truth),
        },
    }


# ---------------------------------------------------------------------------
# sstable_compact: three overlapping generations, full atom surface
# ---------------------------------------------------------------------------

def gen_sstable_compact(seed: int, out: str, partitions: int,
                        cells_per_partition: int) -> dict:
    """Generation 1 writes every partition; generations 2 and 3 revisit a
    subset each, overwriting (``UPDATE_SHARE``), deleting
    (``DELETE_SHARE``) and adding cells, plus range tombstones (gen 2),
    partition tombstones (gen 3) and counter shards (all three) on
    counter-only cell names."""
    from cassandra_ttl_remover_spark.sources.sstable import write_sstable

    rng = random.Random(seed)
    pool = _value_pool(rng, 4096, 8, 24)
    seen: set = set()
    keys = [_pk(rng, seen) for _ in range(partitions)]
    counter_keys = {k for k in keys if rng.random() < COUNTER_SHARE}
    gens: list[list] = [[], [], []]
    stats = {"atoms": 0, "updates": 0, "deletes": 0, "range_tombstones": 0,
             "partition_tombstones": 0, "counter_shards": 0}
    revisit = (1.0, 0.6, 0.4)
    for key in keys:
        names = [f"{i:06d}:v" for i in range(cells_per_partition)]
        for g in range(3):
            if rng.random() >= revisit[g]:
                continue
            base = BASE_US + g * GEN_US
            cells = []
            if g == 0:
                chosen = names
            else:
                chosen = [n for n in names if rng.random() < UPDATE_SHARE]
                # cells first written by this generation
                chosen += [f"{cells_per_partition + g * 1000 + j:06d}:v"
                           for j in range(rng.randint(0, 5))]
            for name in chosen:
                wt = base + rng.randrange(SPAN_US)
                if g and rng.random() < DELETE_SHARE:
                    cells.append((name.encode(), DELETION_MASK, 0, 0, wt,
                                  struct.pack(">i", _ldt(wt))))
                    stats["deletes"] += 1
                    continue
                val = pool[rng.randrange(len(pool))].encode()
                if rng.random() < 0.5:
                    ttl = rng.randint(1, 30) * 86400
                    cells.append((name.encode(), EXPIRATION_MASK, ttl,
                                  _ldt(wt) + ttl, wt, val))
                else:
                    cells.append((name.encode(), 0, 0, 0, wt, val))
                stats["updates"] += bool(g)
            if g == 1 and rng.random() < RANGE_TOMBSTONE_SHARE:
                lo = rng.randrange(cells_per_partition)
                hi = min(cells_per_partition - 1, lo + rng.randint(1, 10))
                mfda = base - 1  # shadows every generation-1 write
                cells.append((f"{lo:06d}:".encode(), RANGE_TOMBSTONE_MASK,
                              0, _ldt(mfda), mfda, f"{hi:06d}:~".encode()))
                stats["range_tombstones"] += 1
            if key in counter_keys:
                for c in range(2):
                    mask = COUNTER_MASK if g == 0 else COUNTER_UPDATE_MASK
                    wt = base + rng.randrange(SPAN_US)
                    tsd = BASE_US - SPAN_US if mask == COUNTER_MASK else 0
                    cells.append((f"cnt{c}".encode(), mask, 0, tsd, wt,
                                  str(rng.randint(-50, 100)).encode()))
                    stats["counter_shards"] += 1
            cells.sort(key=lambda c: c[0])
            stats["atoms"] += len(cells)
            if g == 2 and rng.random() < COMPACT_PARTITION_TOMBSTONE_SHARE:
                mfda = base - 1  # shadows generations 1 and 2
                gens[g].append((key, cells, (_ldt(mfda), mfda)))
                stats["atoms"] += 1
                stats["partition_tombstones"] += 1
            else:
                gens[g].append((key, cells))
    root = os.path.join(out, "input")
    data_bytes = 0
    for g, parts in enumerate(gens):
        d = os.path.join(root, f"gen-{g + 1}")
        write_sstable(parts, d)
        data_bytes += os.path.getsize(os.path.join(d, "Data.db"))
    return {
        "input": root,
        # threshold = now - gc_grace falls inside generation 2's write
        # span: its range tombstones and half its cell tombstones are
        # purged, generation 3's deletions are retained
        "now_us": BASE_US + 3 * GEN_US,
        "gc_grace_us": 2 * GEN_US - SPAN_US // 2,
        "properties": {
            "partitions": partitions,
            "cells_per_partition": cells_per_partition,
            "generations": 3,
            "revisit_share": list(revisit[1:]),
            "update_share": UPDATE_SHARE,
            "delete_share": DELETE_SHARE,
            **stats,
            "data_bytes": data_bytes,
        },
    }


# ---------------------------------------------------------------------------
# parquet_strip: cell-struct layout with a map column
# ---------------------------------------------------------------------------

PARQUET_DDL = ("CREATE TABLE ks.events (id bigint, ck int, name text, "
               "score int, attrs map<text, text>, PRIMARY KEY ((id), ck))")


def gen_parquet_strip(seed: int, out: str, rows: int, files: int) -> dict:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_ids = max(1, rows // ROWS_PER_PARTITION)
    ids = rng.permutation(np.repeat(
        rng.choice(1 << 40, size=n_ids, replace=False), ROWS_PER_PARTITION,
    )[:rows])
    ck = rng.integers(0, 1 << 20, size=rows, dtype=np.int32)

    def meta(n):
        wt = BASE_US + rng.integers(0, SPAN_US, size=n)
        exp = rng.random(n) < EXPIRING_SHARE
        ttl = np.where(exp, rng.integers(1, 31, size=n) * 86400, 0)
        ttl_arr = pa.array(ttl, mask=~exp, type=pa.int64())
        ea_arr = pa.array(wt // 1_000_000 + ttl, mask=~exp, type=pa.int64())
        dead = rng.random(n) < TOMBSTONE_SHARE
        del_arr = pa.array(wt // 1_000_000, mask=~dead, type=pa.int64())
        return pa.array(wt, type=pa.int64()), ttl_arr, ea_arr, del_arr, exp

    def cells(values):
        n = len(values)
        wt, ttl, ea, dele, exp = meta(n)
        arr = pa.StructArray.from_arrays(
            [values, wt, ttl, ea, dele],
            names=["value", "writetime", "ttl", "expires_at", "deleted_ts"])
        return arr, int(exp.sum())

    words = np.array([f"w{i:04d}" for i in range(5000)], dtype=object)
    name, e1 = cells(pa.array(words[rng.integers(0, 5000, size=rows)],
                              type=pa.string()))
    score, e2 = cells(pa.array(rng.integers(0, 10**6, size=rows),
                               type=pa.int32()))
    n_attr = rng.integers(0, 4, size=rows)
    offsets = np.concatenate([[0], np.cumsum(n_attr)]).astype(np.int32)
    total = int(offsets[-1])
    # keys within one map are distinct: k0..k(n-1)
    pos = np.arange(total) - np.repeat(offsets[:-1], n_attr)
    keys = pa.array(np.char.add("k", pos.astype(str)).astype(object),
                    type=pa.string())
    items, e3 = cells(pa.array(words[rng.integers(0, 5000, size=total)],
                               type=pa.string()))
    attrs = pa.MapArray.from_arrays(pa.array(offsets), keys, items)
    pk_wt = BASE_US - rng.integers(1, SPAN_US, size=rows)
    pk_exp = rng.random(rows) < EXPIRING_SHARE
    pk_ttl = np.where(pk_exp, 86400, 0)
    # older row deletions on some rows: pk liveness still wins over them
    row_del = rng.random(rows) < 0.05
    table = pa.table({
        "id": pa.array(ids, type=pa.int64()),
        "ck": pa.array(ck, type=pa.int32()),
        "name": name,
        "score": score,
        "attrs": attrs,
        "pk_writetime": pa.array(pk_wt, type=pa.int64()),
        "pk_ttl": pa.array(pk_ttl, mask=~pk_exp, type=pa.int64()),
        "pk_expires_at": pa.array(pk_wt // 1_000_000 + pk_ttl, mask=~pk_exp,
                                  type=pa.int64()),
        "row_deletion_ts": pa.array(pk_wt - 1, mask=~row_del,
                                    type=pa.int64()),
    })
    d = os.path.join(out, "input")
    os.makedirs(d, exist_ok=True)
    per = (rows + files - 1) // files
    for f in range(files):
        pq.write_table(table.slice(f * per, per),
                       os.path.join(d, f"part-{f:03d}.parquet"))
    n_cells = 2 * rows + total
    return {
        "input": d,
        "cql": PARQUET_DDL,
        "properties": {
            "rows": rows,
            "partitions": n_ids,
            "files": files,
            "cells": n_cells,
            "map_entries": total,
            "expiring_share": round((e1 + e2 + e3) / n_cells, 4),
            "input_bytes": sum(
                os.path.getsize(os.path.join(d, p)) for p in os.listdir(d)),
        },
        "expect": {"rows": rows, "expiring_in": e1 + e2 + e3},
    }


# ---------------------------------------------------------------------------
# curate: documents with exact- and near-duplicate shares
# ---------------------------------------------------------------------------

#: stopwords by language, a copy of the package's language profiles kept
#: here so the generated documents cannot change when the package does
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von"],
    "es": ["el", "la", "de", "y", "es", "un", "una", "en", "por", "que"],
    "fr": ["le", "la", "et", "est", "un", "une", "dans", "pour", "que"],
}


def gen_curate(seed: int, out: str, docs: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = _value_pool(rng, 3000, 3, 9)
    langs = ["en"] * 6 + ["de", "es", "fr"]
    texts: list[str] = []
    lang_col: list[str] = []
    n_exact = n_near = 0
    for i in range(docs):
        r = rng.random()
        if texts and r < EXACT_DUP_SHARE:
            j = rng.randrange(len(texts))
            texts.append(texts[j])
            lang_col.append(lang_col[j])
            n_exact += 1
            continue
        if texts and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = rng.randrange(len(texts))
            words = texts[j].split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
            lang_col.append(lang_col[j])
            n_near += 1
            continue
        lang = rng.choice(langs)
        stops = STOPWORDS[lang]
        words = [rng.choice(stops) if rng.random() < 0.3 else rng.choice(vocab)
                 for _ in range(rng.randint(10, 60))]
        if rng.random() < 0.1:  # punctuation-heavy, low quality
            words = [w + "!!" for w in words]
        texts.append(" ".join(words))
        lang_col.append(lang)
    d = os.path.join(out, "input")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(lang_col, type=pa.string()),
        "source": pa.array([f"src{i % 4}" for i in range(docs)],
                           type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), path)
    # ground truth: the package's DuckDB oracle over the same file
    import duckdb

    from cassandra_ttl_remover_spark.operators.curate import (
        curate_corpus_oracle_sql,
    )

    # DuckDB inlines CTEs, so the recursive components step would
    # recompute the shingle pairs on every iteration; materializing the
    # non-recursive CTEs keeps the same query and answer at a fraction of
    # the cost
    sql = curate_corpus_oracle_sql()
    for cte in ("qual", "lang", "keep0", "ex", "keep1", "pairs", "edges"):
        sql = sql.replace(f"\n{cte} AS (", f"\n{cte} AS MATERIALIZED (")
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents AS SELECT * FROM "
                    f"read_parquet('{path}')")
        oracle = con.sql(sql).fetchall()
    finally:
        con.close()
    return {
        "input": path,
        "properties": {
            "docs": docs,
            "exact_dup_share": round(n_exact / docs, 4),
            "near_dup_share": round(n_near / docs, 4),
            "input_bytes": os.path.getsize(path),
        },
        "expect": {"rows": len(oracle), "hash": multiset_hash(oracle)},
    }


GENERATORS = {
    "sstable_strip": gen_sstable_strip,
    "sstable_compact": gen_sstable_compact,
    "parquet_strip": gen_parquet_strip,
    "curate": gen_curate,
}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, out, **SIZES[workload])
    manifest["workload"] = workload
    manifest["seed"] = seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--root", required=True,
                   help="checkout root holding the package")
    a = p.parse_args(argv)
    sys.path.insert(0, a.root)
    generate(a.workload, a.seed, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
