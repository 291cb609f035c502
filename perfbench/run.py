"""Benchmark of record for cassandra_ttl_remover_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout (the package directory sits next to
``perfbench/``). The run generates its inputs from ``--seed`` in a child
process, starts one Spark session on ``local[$SPARK_GRAFT_CPUS]``
(default: every CPU the process may use), then runs the workload's
operation in a closed loop with one client: the first (cold) operation,
then a fixed number of warm operations one after another, as many as
fill ``--seconds`` at the workload's nominal operation time on a 4-CPU
host. Outputs are checked outside the timed region.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see ``BENCHMARK.json``). The line before it stamps the run: machine,
versions, seed, input properties. Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "cassandra_ttl_remover_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")

sys.path.insert(0, HERE)

from spans import JobGroups, Tracer  # noqa: E402
from workloads import SWEEP, WORKLOADS  # noqa: E402

#: warm operations measured at least, whatever ``--seconds`` says
MIN_WARM = 4


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Point every temporary location of Python, the JVM and Spark into
    ``work`` and make it the working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # Spark's Python workers import the package from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)


def start_session():
    """Fresh process -> ready session: import, get_spark,
    register_sstable_source, one trivial job. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from cassandra_ttl_remover_spark import get_spark
    from cassandra_ttl_remover_spark.sources.sstable import (
        register_sstable_source,
    )

    spark = get_spark("perfbench")
    register_sstable_source(spark)
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def jvm_process(spark):
    return getattr(spark.sparkContext._gateway, "proc", None)


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers it
    forked) to exit."""
    proc = jvm_process(spark)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def generate(workload: str, seed: int, work: str) -> dict:
    out = os.path.join(work, "inputs", workload)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload",
         workload, "--seed", str(seed), "--out", out, "--root", ROOT],
        check=True, timeout=170,
    )
    with open(os.path.join(out, "manifest.json")) as f:
        return json.load(f)


def warm_ops(wl, seconds: float) -> int:
    """How many warm operations fill ``seconds`` at the workload's nominal
    operation time. The count depends on ``seconds`` alone, never on how
    fast this run happens to be: the JVM keeps speeding up and growing
    for dozens of operations, so two runs are comparable only when they
    do the same work."""
    return max(MIN_WARM, round(seconds / wl.nominal_op_s))


def check(fn, out) -> str | None:
    """Run one output check; a check that raises fails the operation."""
    try:
        return fn(out)
    except Exception as e:  # noqa: BLE001 — unreadable output is a failure
        return f"check raised {type(e).__name__}: {e}"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class Run:
    """One benchmark run: its session, operation loop and verdicts."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        #: operation label -> why it failed
        self.failures: dict[str, str] = {}
        self.phases: dict[str, float] = {}

    def attempt(self, wl, i: int, tracer, jg, traced: bool):
        """One operation plus its quick check; returns (output, seconds)
        or (None, seconds) when the operation raised."""
        self.attempted += 1
        label = f"{wl.name}.op{i}"
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span(f"{wl.name}.op", op=i), jg.group(label):
                    out = wl.op(i)
            else:
                out = wl.op(i)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            traceback.print_exc()
            self.failures[label] = f"raised {type(e).__name__}: {e}"
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        err = check(wl.quick_check, out)
        if err:
            self.failures[label] = err
        return out, dt

    def full_check(self, wl, i: int, out) -> None:
        """The workload's full output check on operation ``i``'s output,
        unless that operation already failed."""
        label = f"{wl.name}.op{i}"
        if out is None or label in self.failures:
            return
        err = check(wl.full_check, out)
        if err:
            self.failures[label] = f"full check: {err}"

    def checked_op(self, wl, tracer, jg):
        """One traced operation with both checks: how the sweep runs the
        workloads it does not measure end to end."""
        out, dt = self.attempt(wl, 0, tracer, jg, True)
        self.full_check(wl, 0, out)
        return out, dt

    def phase(self, name: str, t0: float) -> None:
        self.phases[name] = time.perf_counter() - t0

    def execute(self) -> dict:
        import pyspark

        a = self.args
        trace = bool(a.trace)
        t = time.perf_counter()
        # the traced run sweeps every workload's layers, so it needs every
        # workload's inputs
        names = sorted(SWEEP) if trace else [a.workload]
        manifests = {w: generate(w, a.seed, self.work) for w in names}
        self.phase("generate", t)
        spark, setup_s = start_session()
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer()
        jg = JobGroups(spark)
        wl = WORKLOADS[a.workload](spark, manifests[a.workload], self.work)
        try:
            out0, first_s = self.attempt(wl, 0, tracer, jg, trace)
            plain: list[float] = []
            traced: list[float] = []
            last_out = None
            for i in range(1, warm_ops(wl, a.seconds) + 1):
                # the traced run alternates traced and untraced operations
                # so its overhead is measured on one session
                on = trace and i % 2 == 0
                out, dt = self.attempt(wl, i, tracer, jg, on)
                (traced if on else plain).append(dt)
                if out is None:
                    continue
                if last_out is not None and last_out is not out0:
                    wl.discard(last_out)
                last_out = out
            rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_process(spark).pid)
            t = time.perf_counter()
            # every output had its quick check; the first is checked in full
            self.full_check(wl, 0, out0)
            self.phase("check", t)
            if trace:
                t = time.perf_counter()
                metrics = {
                    "session.get_spark_s": setup_s,
                    "trace.overhead": (statistics.median(traced)
                                       / statistics.median(plain) - 1),
                    **jg.counts(jg.last),
                    **self.sweep(spark, manifests, wl, tracer, jg,
                                 (last_out, statistics.median(traced))),
                }
                self.phase("sweep", t)
            else:
                metrics = {
                    "first_op_s": first_s,
                    "op_s": statistics.median(plain),
                    "peak_rss_mb": rss,
                    "bytes_out_per_byte_in": (
                        wl.bytes_out(last_out) / wl.bytes_in),
                }
        finally:
            t = time.perf_counter()
            stop_session(spark)
            self.phase("stop", t)
        if not trace:
            # one fresh session per run: a second costs another ~10 s
            metrics["setup_s"] = setup_s
        else:
            os.makedirs(OUT_ROOT, exist_ok=True)
            tracer.dump(os.path.join(
                OUT_ROOT, f"trace-{a.workload}-{a.seed}.json"))
        self.stamp = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "first_op_s": first_s, "warm_op_s": plain + traced,
            "phase_s": self.phases, "input_bytes": wl.bytes_in,
            "properties": {w: m["properties"] for w, m in manifests.items()},
        }
        return metrics

    def sweep(self, spark, manifests, wl, tracer, jg, measured) -> dict:
        """Every workload's layer probes, each on its own inputs. The
        selected workload reuses its measured warm operation; the others
        run theirs once, traced and fully checked, where their probes ask
        for it."""
        vals: dict = {}
        for name in sorted(SWEEP):
            with tracer.span(f"{name}.layers"):
                if name == wl.name:
                    vals.update(wl.layers(tracer, lambda: measured))
                    continue
                other = SWEEP[name](spark, manifests[name], self.work)
                vals.update(other.layers(
                    tracer, lambda o=other: self.checked_op(o, tracer, jg)))
        return vals


def unit_of(name: str) -> str:
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("bytes_in") or name.startswith("bytes_out"):
        return "ratio" if "_per_" in name else "bytes"
    if name in ("trace.overhead", "merge.rows_out_per_atom_in"):
        return "ratio"
    return "count"


def parse_args(argv: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"error: no {PKG}/ package next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    load_before = loadavg()
    try:
        isolate(work)
        run = Run(a, work)
        metrics = run.execute()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    run.stamp["loadavg_before"] = load_before
    run.stamp["loadavg_after"] = loadavg()
    for label, why in sorted(run.failures.items()):
        print(f"{label} failed: {why}", file=sys.stderr)
    print(json.dumps({"stamp": run.stamp}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
