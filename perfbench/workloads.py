"""The benchmark's operations: one timed operation each, its output
checks, and the per-layer probes of the traced run.

Each workload object owns one Spark session's view of its generated
inputs. ``op(i)`` is the timed operation and returns a handle to its
output; ``quick_check`` runs after every operation and ``full_check``
once per run on the first operation's output, both outside the timed
region; ``layers`` times calls into each module's public functions for
the traced run. A check returns ``None`` when the output is correct,
else a one-line reason.

``bytes_out_per_byte_in`` is reported by every workload because every
end-to-end metric is. On ``curate`` it is the collected result's text size
over the document file's size: a correct run cannot move it, so it only
guards against a change to how the result or its input is encoded.
"""

from __future__ import annotations

import collections
import os
import shutil
import zlib

import gen

#: far-future "now" (epoch seconds, year 2096): after a TTL strip every
#: row must still read as live there
FAR_FUTURE_S = 4_000_000_000


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def fingerprint(rows: list) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a collected result."""
    return len(rows), gen.multiset_hash(tuple(r) for r in rows)


def result_bytes(rows) -> int:
    """Size of a collected result in its text form (``repr`` per row)."""
    return sum(len(repr(tuple(r))) for r in rows)


def force_all_columns(df) -> None:
    """Evaluate every column of ``df``: one aggregate counting each."""
    import pyspark.sql.functions as F

    df.agg(*[F.count(F.col(c)).alias(c) for c in df.columns]).collect()


def table_dirs(path: str) -> list[str]:
    if os.path.exists(os.path.join(path, "Data.db")):
        return [path]
    return sorted(os.path.join(path, d) for d in os.listdir(path)
                  if os.path.exists(os.path.join(path, d, "Data.db")))


class Workload:
    name = ""
    #: seconds one warm operation takes on a 4-CPU host; sets how many
    #: warm operations a run of a given length makes
    nominal_op_s = 1.0

    def __init__(self, spark, manifest: dict, work: str):
        self.spark = spark
        self.m = manifest
        self.work = work
        self.bytes_in = self.data_bytes(manifest["input"])

    def data_bytes(self, path: str) -> int:
        return dir_bytes(path)

    def quick_check(self, out) -> str | None:
        return None

    def full_check(self, out) -> str | None:
        return self.quick_check(out)

    def bytes_out(self, out) -> int:
        return result_bytes(out)

    def discard(self, out) -> None:
        if isinstance(out, str):
            shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# sstable_strip
# ---------------------------------------------------------------------------

class SSTableStrip(Workload):
    """The CLI's native path: scan_sstable -> strip_ttl_cells -> range
    exchange -> write_sstable_distributed."""

    name = "sstable_strip"
    nominal_op_s = 2.0

    def op(self, i: int) -> str:
        from cassandra_ttl_remover_spark import cli

        out = os.path.join(self.work, f"{self.name}-out-{i}")
        cli.run(cli.parse_args([
            "--input-format", "sstable", "--output-format", "sstable",
            "--input", self.m["input"], "--output-path", out]))
        return out

    def quick_check(self, out: str) -> str | None:
        """Spark-free: per-shard digest and TOC, partition count against
        the input, non-overlapping shard ranges. Output bytes are not
        checked: a compressed or differently framed output is as correct,
        and ``bytes_out_per_byte_in`` is there to show it."""
        from cassandra_ttl_remover_spark.sources.sstable import read_index

        partitions = 0
        spans = []
        for d in table_dirs(out):
            with open(os.path.join(d, "Data.db"), "rb") as f:
                data = f.read()
            with open(os.path.join(d, "Digest.crc32")) as f:
                if int(f.read()) != zlib.crc32(data):
                    return f"{os.path.basename(d)}: Data.db digest mismatch"
            with open(os.path.join(d, "TOC.txt")) as f:
                if sorted(f.read().split()) != sorted(os.listdir(d)):
                    return f"{os.path.basename(d)}: TOC.txt mismatch"
            keys = [k for k, _ in read_index(os.path.join(d, "Index.db"))]
            partitions += len(keys)
            if keys:
                spans.append((keys[0], keys[-1]))
        if partitions != self.m["expect"]["partitions"]:
            return (f"{partitions} output partitions != "
                    f"{self.m['expect']['partitions']} input partitions")
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            if hi >= lo:
                return "shard key ranges overlap"
        return None

    def full_check(self, out: str) -> str | None:
        """The quick check, then the output scanned back through Spark:
        kind counts, no expiring cells, the (pk, cell, writetime, value)
        multiset hash, and verify_digests over every shard."""
        from cassandra_ttl_remover_spark.sources.sstable import (
            scan_sstable,
            verify_digests,
        )

        err = self.quick_check(out)
        if err:
            return err
        t = (scan_sstable(self.spark, out)
             .select("pk", "cell", "kind", "writetime", "value").toArrow())
        cols = [t.column(c).to_pylist()
                for c in ("pk", "cell", "kind", "writetime", "value")]
        kinds = collections.Counter(cols[2])
        exp = self.m["expect"]
        if kinds.get("expiring"):
            return f"{kinds['expiring']} expiring cells survived the strip"
        if dict(kinds) != {k: v for k, v in exp["kinds"].items() if v}:
            return f"kind counts {dict(kinds)} != expected {exp['kinds']}"
        h = gen.multiset_hash(zip(cols[0], cols[1], cols[3], cols[4]))
        if h != exp["hash"]:
            return f"(pk, cell, writetime, value) hash {h} != {exp['hash']}"
        bad = [r.generation for r in verify_digests(self.spark, out).collect()
               if not (r.digest_ok and r.toc_ok)]
        if bad:
            return f"verify_digests failed for shards {bad}"
        return None

    def data_bytes(self, path: str) -> int:
        """``Data.db`` bytes only: the sidecars' sizes depend on where the
        shard boundaries fall, the data component's do not."""
        return sum(os.path.getsize(os.path.join(d, "Data.db"))
                   for d in table_dirs(path))

    def bytes_out(self, out: str) -> int:
        return self.data_bytes(out)

    def layers(self, tracer, run_op) -> dict:
        from cassandra_ttl_remover_spark.sources.sstable import (
            scan_sstable,
            strip_ttl_cells,
            write_sstable,
        )

        inp = self.m["input"]
        res = sstable_codec_layers(tracer, inp)
        scan_s, scan_strip_s = scan_vs_strip(
            tracer, "sources.sstable",
            lambda: scan_sstable(self.spark, inp), strip_ttl_cells)
        # serial encode of the stripped cells: one sink task's work
        parts = stripped_partitions(inp)
        enc_dir = os.path.join(self.work, "encode-probe")
        with tracer.span("sources.sstable.encode"):
            write_sstable(parts, enc_dir)
        shutil.rmtree(enc_dir, ignore_errors=True)
        out, op_s = run_op()
        kinds = collections.Counter(
            row[2] for d in table_dirs(out) for row in scan_table(d))
        res.update({
            "sources.sstable.scan_s": scan_s,
            "sources.sstable.strip_s": scan_strip_s - scan_s,
            "sources.sstable.encode_s": tracer.total(
                "sources.sstable.encode"),
            "sources.sstable.write_s": op_s - scan_strip_s,
            "cells_in": self.m["properties"]["cells"],
            "expiring_in": self.m["expect"]["expiring_in"],
            "cells_out": sum(kinds.values())
            - kinds.get("partition_tombstone", 0),
            "shards_out": len(table_dirs(out)),
            "bytes_in": self.bytes_in,
            "bytes_out": self.bytes_out(out),
        })
        return res


def scan_vs_strip(tracer, layer: str, scan, strip) -> tuple[float, float]:
    """Times of a forced scan and of the same scan plus strip. After one
    untimed warm-up scan the two alternate twice and the faster of each
    pair counts, so the difference (the strip's own cost) is not the
    warm-up of whichever ran first."""
    force_all_columns(scan())
    for _ in range(2):
        with tracer.span(f"{layer}.scan"):
            force_all_columns(scan())
        with tracer.span(f"{layer}.scan_strip"):
            force_all_columns(strip(scan()))
    best = [min(s["end"] - s["start"] for s in tracer.spans
                if s["name"] == f"{layer}.{kind}")
            for kind in ("scan", "scan_strip")]
    return best[0], best[1]


def scan_table(d: str):
    """Serial decode of one table directory's whole Data.db."""
    from cassandra_ttl_remover_spark.sources.sstable import scan_data_range

    data = os.path.join(d, "Data.db")
    return scan_data_range(data, 0, os.path.getsize(data))


def sstable_codec_layers(tracer, path: str) -> dict:
    """Serial planner and decoder over every input table, on one core."""
    from cassandra_ttl_remover_spark.sources.sstable import (
        read_index,
        select_index_range,
    )

    dirs = table_dirs(path)
    with tracer.span("sources.sstable.plan"):
        for d in dirs:
            entries = read_index(os.path.join(d, "Index.db"))
            select_index_range(
                entries, os.path.getsize(os.path.join(d, "Data.db")))
    data_bytes = 0
    with tracer.span("sources.sstable.decode"):
        for d in dirs:
            data_bytes += os.path.getsize(os.path.join(d, "Data.db"))
            collections.deque(scan_table(d), maxlen=0)
    decode_s = tracer.total("sources.sstable.decode")
    return {
        "sources.sstable.plan_s": tracer.total("sources.sstable.plan"),
        "sources.sstable.decode_s": decode_s,
        "sources.sstable.decode_mb_s": data_bytes / decode_s / 1e6,
    }


def stripped_partitions(path: str) -> list[tuple]:
    """Writer input for the stripped cells of every table under ``path``,
    mapped by the sink's own row-to-cell mapping: expiring cells become
    normal cells, everything else is kept."""
    from cassandra_ttl_remover_spark.sources.sstable import _row_to_cell

    parts: dict[bytes, list] = {}
    dels: dict[bytes, tuple] = {}
    for d in table_dirs(path):
        for pk, cell, kind, ttl, exp, wt, val in scan_table(d):
            cells = parts.setdefault(pk.encode(), [])
            if kind == "partition_tombstone":
                dels[pk.encode()] = (int(exp), int(wt))
                continue
            if kind == "expiring":
                kind, ttl, exp = "normal", None, None
            cells.append(_row_to_cell(cell, kind, ttl, exp, wt, val))
    return [(k, cs, dels[k]) if k in dels else (k, cs)
            for k, cs in parts.items()]


# ---------------------------------------------------------------------------
# sstable_compact
# ---------------------------------------------------------------------------

class SSTableCompact(Workload):
    """merge_compact_sorted over three overlapping generations, collected:
    the same decoder and planner as sstable_strip, no shuffle, no encode."""

    name = "sstable_compact"
    #: (rows, multiset hash) of compact_atoms over the same generations
    reference = None

    def merge(self):
        from cassandra_ttl_remover_spark.sources.sstable import (
            merge_compact_sorted,
        )

        return merge_compact_sorted(
            self.spark, self.m["input"], gc_grace_us=self.m["gc_grace_us"],
            now_us=self.m["now_us"])

    def compact_atoms(self):
        from cassandra_ttl_remover_spark.operators.compact import (
            compact_atoms,
        )
        from cassandra_ttl_remover_spark.sources.sstable import scan_sstable

        return compact_atoms(
            scan_sstable(self.spark, self.m["input"]),
            gc_grace_us=self.m["gc_grace_us"], now_us=self.m["now_us"])

    def op(self, i: int) -> list:
        return self.merge().collect()

    def quick_check(self, rows: list) -> str | None:
        """The result must equal ``compact_atoms`` over the same
        generations as a row multiset: the shuffle-based plan the
        zero-shuffle merge replaces."""
        if self.reference is None:
            self.reference = fingerprint(self.compact_atoms().collect())
        got = fingerprint(rows)
        if got != self.reference:
            return f"merge result {got} != compact_atoms {self.reference}"
        return None

    def layers(self, tracer, run_op) -> dict:
        """The merge's eager planning call on its own, then the whole
        checked operation (plan plus collect); execution is the
        difference."""
        with tracer.span("operators.compact.compact_atoms"):
            self.reference = fingerprint(self.compact_atoms().collect())
        with tracer.span("sources.sstable.merge_plan"):
            self.merge()
        plan_s = tracer.total("sources.sstable.merge_plan")
        rows, op_s = run_op()
        atoms = self.m["properties"]["atoms"]
        return {
            "sources.sstable.merge_plan_s": plan_s,
            "sources.sstable.merge_exec_s": op_s - plan_s,
            "operators.compact.compact_atoms_s": tracer.total(
                "operators.compact.compact_atoms"),
            "merge.atoms_in": atoms,
            "merge.rows_out": len(rows),
            "merge.rows_out_per_atom_in": len(rows) / atoms,
        }


# ---------------------------------------------------------------------------
# parquet_strip
# ---------------------------------------------------------------------------

class ParquetStrip(Workload):
    """The CLI's parquet path: scan -> per-cell strip_ttl_cells ->
    write_sorted, over the cell-struct layout with a map column."""

    name = "parquet_strip"

    def op(self, i: int) -> str:
        from cassandra_ttl_remover_spark import cli

        out = os.path.join(self.work, f"{self.name}-out-{i}")
        cli.run(cli.parse_args([
            "--format-version", "3", "--cql", self.m["cql"],
            "--input", self.m["input"], "--output-path", out]))
        return out

    def quick_check(self, out: str) -> str | None:
        """Footer-only: row count and non-overlapping pk ranges."""
        import pyarrow.parquet as pq

        rows = 0
        spans = []
        for f in sorted(os.listdir(out)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(out, f))
            rows += md.num_rows
            if md.num_rows == 0:
                continue
            idx = md.schema.to_arrow_schema().get_field_index("id")
            stats = [md.row_group(g).column(idx).statistics
                     for g in range(md.num_row_groups)]
            spans.append((min(s.min for s in stats),
                          max(s.max for s in stats)))
        want = self.m["expect"]["rows"]
        if rows != want:
            return f"{rows} output rows != {want} input rows"
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            if hi >= lo:
                return "part-file pk ranges overlap"
        return None

    def _fingerprint(self, df):
        """(rows, cells, live TTL metadata, writetime digest) of a frame in
        the cell-struct layout."""
        import pyspark.sql.functions as F

        wt = F.xxhash64(
            "id", "ck", "name.writetime", "score.writetime",
            F.array_sort(F.transform(F.map_entries("attrs"),
                                     lambda e: F.struct(
                                         e["key"], e["value"]["writetime"]))))
        ttl_left = (F.col("name.ttl").isNotNull()
                    | F.col("score.ttl").isNotNull()
                    | F.col("pk_ttl").isNotNull()
                    | F.exists(F.map_values("attrs"),
                               lambda c: c["ttl"].isNotNull()))
        r = df.agg(
            F.count("*").alias("rows"),
            F.sum(2 + F.size("attrs")).alias("cells"),
            F.sum(ttl_left.cast("int")).alias("ttl_left"),
            F.sum(wt.cast("decimal(38,0)")).alias("wt"),
        ).collect()[0]
        return r.rows, r.cells, r.ttl_left, r.wt

    def full_check(self, out: str) -> str | None:
        from cassandra_ttl_remover_spark.operators.liveness import (
            live_view_cells,
        )

        err = self.quick_check(out)
        if err:
            return err
        src = self.spark.read.parquet(self.m["input"])
        dst = self.spark.read.parquet(out)
        rows_in, cells_in, _, wt_in = self._fingerprint(src)
        rows, cells, ttl_left, wt = self._fingerprint(dst)
        if ttl_left:
            return f"{ttl_left} rows still carry TTL metadata"
        if (rows, cells) != (rows_in, cells_in):
            return f"(rows, cells) {(rows, cells)} != {(rows_in, cells_in)}"
        if wt != wt_in:
            return "cell writetimes changed"
        live = live_view_cells(dst, now=FAR_FUTURE_S).count()
        if live != rows:
            return f"{rows - live} rows read as dead at a far-future now"
        return None

    def bytes_out(self, out: str) -> int:
        return sum(os.path.getsize(os.path.join(out, f))
                   for f in os.listdir(out) if f.endswith(".parquet"))

    def layers(self, tracer, run_op) -> dict:
        from cassandra_ttl_remover_spark import scan
        from cassandra_ttl_remover_spark.registry import get_strategy

        scan_s, scan_strip_s = scan_vs_strip(
            tracer, "sources.scan", lambda: scan(self.spark, self.m["input"]),
            get_strategy("3").strip)
        _, op_s = run_op()
        return {
            "sources.scan.scan_s": scan_s,
            "operators.liveness.strip_s": scan_strip_s - scan_s,
            "sinks.writer.write_s": op_s - scan_strip_s,
        }


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

class Curate(Workload):
    """curate_corpus over seeded documents: quality and language gates,
    exact dedup, shingle Jaccard pairs, near-dup components."""

    name = "curate"
    nominal_op_s = 1.6

    def docs(self):
        from cassandra_ttl_remover_spark import scan

        return scan(self.spark, self.m["input"])

    def op(self, i: int) -> list:
        from cassandra_ttl_remover_spark.operators.curate import curate_corpus

        return curate_corpus(self.spark, self.docs()).collect()

    def quick_check(self, rows: list) -> str | None:
        got = fingerprint(rows)
        want = (self.m["expect"]["rows"], self.m["expect"]["hash"])
        if got != want:
            return f"curated {got} != DuckDB oracle {want}"
        return None

    def layers(self, tracer, run_op) -> dict:
        from cassandra_ttl_remover_spark.operators.curate import (
            gated_exact_dedup,
        )
        from cassandra_ttl_remover_spark.operators.dedup import (
            neardup_dedup,
            ngram_jaccard_pairs,
        )

        keep1 = gated_exact_dedup(self.spark, self.docs())
        with tracer.span("operators.curate.gate"):
            n_keep1 = keep1.count()
        with tracer.span("operators.dedup.pairs"):
            pairs = ngram_jaccard_pairs(
                keep1, 0.5, "text", "doc_id", max_df=1000,
            ).select("a", "b").localCheckpoint(eager=True)
        n_pairs = pairs.count()
        with tracer.span("operators.dedup.components"):
            n_kept = neardup_dedup(keep1.select("doc_id"), pairs,
                                   "doc_id").filter("is_kept").count()
        return {
            "operators.curate.gate_s": tracer.total("operators.curate.gate"),
            "operators.dedup.pairs_s": tracer.total("operators.dedup.pairs"),
            "operators.dedup.components_s": tracer.total(
                "operators.dedup.components"),
            "curate.docs_in": self.m["properties"]["docs"],
            "curate.docs_after_exact": n_keep1,
            "curate.pairs": n_pairs,
            "curate.docs_kept": n_kept,
        }


#: the benchmark's workloads (``--workload``)
WORKLOADS = {w.name: w for w in (SSTableStrip, Curate)}
#: every operation the traced run's layer sweep probes: the workloads plus
#: the k-way merge and the CLI's parquet path, whose layers are measured
#: only there
SWEEP = {w.name: w for w in (SSTableStrip, SSTableCompact, ParquetStrip,
                             Curate)}
