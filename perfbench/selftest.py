"""Self-test of the benchmark's output checks on tiny inputs.

    python3 perfbench/selftest.py

Runs each operation once on a tiny seeded input and counts it through the
same accounting as a benchmark run, then runs it again with its output
corrupted before the checks see it: a flipped byte in an output
``Data.db``, a row dropped from an output parquet file, a row dropped from
a collected result. Every clean operation must pass and every corrupted
one must be counted as failed. Prints one JSON line per case and exits 0
only if all cases behave.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from spans import JobGroups, Tracer
from workloads import SWEEP, table_dirs

TINY = {
    "sstable_strip": {"partitions": 20, "cells_per_partition": 30},
    "sstable_compact": {"partitions": 20, "cells_per_partition": 10},
    "parquet_strip": {"rows": 2000, "files": 2},
    "curate": {"docs": 200},
}


def flip_byte(out: str) -> str:
    path = os.path.join(table_dirs(out)[0], "Data.db")
    with open(path, "r+b") as f:
        f.seek(os.path.getsize(path) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    return out


def drop_parquet_row(out: str) -> str:
    import pyarrow.parquet as pq

    path = os.path.join(out, sorted(
        f for f in os.listdir(out) if f.endswith(".parquet"))[0])
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows - 1), path)
    return out


def drop_result_row(rows: list) -> list:
    return rows[:-1]


CORRUPTIONS = {
    "sstable_strip": ("flipped Data.db byte", flip_byte),
    "sstable_compact": ("dropped result row", drop_result_row),
    "parquet_strip": ("dropped parquet row", drop_parquet_row),
    "curate": ("dropped result row", drop_result_row),
}


class Corrupted:
    """A workload whose every output is corrupted before it is checked."""

    def __init__(self, wl, corrupt):
        self.wl = wl
        self.name = wl.name
        self.corrupt = corrupt

    def op(self, i: int):
        return self.corrupt(self.wl.op(i))

    def quick_check(self, out):
        return self.wl.quick_check(out)

    def full_check(self, out):
        return self.wl.full_check(out)


def case(bench, wl, i, tracer, jg) -> bool:
    """One operation through the benchmark's accounting plus its full
    check; True when it was counted as failed."""
    out, _ = bench.attempt(wl, i, tracer, jg, False)
    bench.full_check(wl, i, out)
    return f"{wl.name}.op{i}" in bench.failures


def main() -> int:
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    ok = True
    try:
        run.isolate(work)
        sys.path.insert(0, run.ROOT)
        import gen

        manifests = {
            name: gen.GENERATORS[name](7, os.path.join(work, "inputs", name),
                                       **TINY[name])
            for name in SWEEP
        }
        spark, _ = run.start_session()
        spark.sparkContext.setLogLevel("ERROR")
        try:
            bench = run.Run(None, work)
            tracer, jg = Tracer(), JobGroups(spark)
            for name, cls in SWEEP.items():
                wl = cls(spark, manifests[name], work)
                what, corrupt = CORRUPTIONS[name]
                clean_failed = case(bench, wl, 1, tracer, jg)
                bad_failed = case(bench, Corrupted(wl, corrupt), 2, tracer,
                                  jg)
                good = not clean_failed and bad_failed
                ok &= good
                print(json.dumps({
                    "operation": name, "corruption": what,
                    "clean_counted_failed": clean_failed,
                    "corrupted_counted_failed": bad_failed,
                    "reason": bench.failures.get(f"{name}.op2"),
                    "ok": good}))
        finally:
            run.stop_session(spark)
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
