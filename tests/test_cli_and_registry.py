"""M3 strategy registry + M7 CLI option matrix + end-to-end CLI job."""

import os
import shutil
import tempfile
from pathlib import Path

import pytest

from cassandra_ttl_remover_spark.cli import main, parse_args
from cassandra_ttl_remover_spark.registry import get_strategy, registered_versions


def test_registry_versions():
    assert registered_versions() == ["2", "3", "4", "4.1"]
    assert get_strategy("3").strip is not None
    with pytest.raises(LookupError):
        get_strategy("5")


def test_cli_option_matrix():
    # --cql required for cell-struct formats (TTLRemoverCLI.java:165-197)
    with pytest.raises(SystemExit):
        parse_args(["--format-version", "3", "--input", "x", "--output-path", "y"])
    # --input xor --input-file
    with pytest.raises(SystemExit):
        parse_args(["--input", "a", "--input-file", "b", "--output-path", "y"])
    spec = parse_args(["--format-version", "2", "--input", "/in",
                       "--output-path", "/out", "--pk", "user_id"])
    assert spec.version == "2" and spec.input_path == "/in"


def test_cli_version_flag(capsys):
    # --version prints the package version and exits 0 — the reference's
    # jar-manifest version provider (JarManifestVersionProvider.java:1-20)
    from cassandra_ttl_remover_spark import __version__

    with pytest.raises(SystemExit) as ex:
        parse_args(["--version"])
    assert ex.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_cli_end_to_end(spark, events):
    work = Path(tempfile.mkdtemp(prefix="ctrs_cli_"))
    try:
        from cassandra_ttl_remover_spark import annotate_events
        src, out = work / "src", work / "out"
        annotate_events(events).limit(100).write.parquet(str(src))
        rc = main(["--format-version", "2", "--input", str(src),
                   "--output-path", str(out), "--pk", "user_id",
                   "--clustering", "event_id"])
        assert rc == 0
        back = spark.read.parquet(str(out))
        assert back.count() == 100
        assert back.filter("ttl is not null").count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cli_sstable_to_sstable_is_the_reference_job(spark):
    """--input-format sstable --output-format sstable == the reference
    tool end to end on its native format: each split decoded, stripped
    and re-encoded into its own shard. The output scans back as
    strip_ttl_cells of the input, no expiring cell survives, and every
    output shard passes the digest sweep."""
    from cassandra_ttl_remover_spark.sources import sstable as ss

    work = Path(tempfile.mkdtemp(prefix="ctrs_clis_"))
    try:
        src, out = work / "src", work / "out"
        ss.events_sstable_fixture(spark, "/root/testdata/sf0.001",
                                  str(src))
        rc = main(["--input", str(src), "--output-path", str(out),
                   "--input-format", "sstable",
                   "--output-format", "sstable"])
        assert rc == 0
        back = ss.scan_sstable(spark, str(out))
        want = sorted(
            tuple(r) for r in
            ss.strip_ttl_cells(ss.scan_sstable(spark, str(src))).collect()
        )
        got = sorted(tuple(r) for r in back.collect())
        assert got == want and len(got) > 0
        assert back.filter("kind = 'expiring'").count() == 0
        checks = ss.verify_digests(spark, str(out)).collect()
        assert checks and all(r.digest_ok and r.toc_ok for r in checks)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cli_sstable_option_matrix():
    # native input needs no --cql (schema is the format's, like the
    # reference's C2 path)
    spec = parse_args(["--input", "/in", "--output-path", "/out",
                       "--input-format", "sstable"])
    assert spec.input_format == "sstable" and spec.cql is None
    # one sstable->sstable dataflow: there is no mode to select
    with pytest.raises(SystemExit):
        parse_args(["--input", "/in", "--output-path", "/out",
                    "--input-format", "sstable",
                    "--rewrite-mode", "inplace"])
    # binary sink without binary source is rejected at run() time
    from cassandra_ttl_remover_spark.cli import TTLRemovalError, run

    bad = parse_args(["--format-version", "2", "--input", "/in",
                      "--output-path", "/out",
                      "--output-format", "sstable"])
    with pytest.raises(TTLRemovalError, match="requires --input-format"):
        run(bad)


def test_cli_sstable_rewrite_empty_table(spark):
    """A table with no partitions plans no splits: the rewrite writes
    nothing and the CLI still exits 0."""
    from cassandra_ttl_remover_spark.sources import sstable as ss

    work = Path(tempfile.mkdtemp(prefix="ctrs_clie_"))
    try:
        ss.write_sstable([], str(work / "src"))
        assert ss.rewrite_stripped(spark, str(work / "src"),
                                   str(work / "a")) == []
        assert main(["--input", str(work / "src"),
                     "--output-path", str(work / "b"),
                     "--input-format", "sstable",
                     "--output-format", "sstable"]) == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cli_sstable_rewrite_refuses_non_empty_output(spark, capsys):
    """Every subdirectory holding a Data.db reads back as data, so a
    rewrite into a directory that already holds a run would mix the
    stale shards into the new output: the CLI must exit 1 and name the
    directory, leaving its contents untouched."""
    from cassandra_ttl_remover_spark.sources import sstable as ss

    work = Path(tempfile.mkdtemp(prefix="ctrs_clis_"))
    try:
        src, out = work / "src", work / "out"
        ss.write_sstable([(b"k1", [(b"c", 0, 0, 0, 1, b"v")])], str(src))
        ss.write_sstable([(f"old{i:03d}".encode(), [(b"c", 0, 0, 0, 1,
                                                     b"v")])
                          for i in range(200)], str(out / "stale"))
        rc = main(["--input", str(src), "--output-path", str(out),
                   "--input-format", "sstable",
                   "--output-format", "sstable"])
        assert rc == 1
        assert str(out) in capsys.readouterr().err
        assert sorted(os.listdir(out)) == ["stale"]
        assert ss.scan_sstable(spark, str(out)).count() == 200
        with pytest.raises(ValueError, match="not empty"):
            ss.rewrite_stripped(spark, str(src), str(out))
        with pytest.raises(ValueError, match="not empty"):
            ss.write_sstable_distributed(ss.scan_sstable(spark, str(src)),
                                         str(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)

def test_cli_sstable_rewrite_starts_no_jvm_and_leaves_no_process():
    """The CLI's sstable -> sstable path runs on a local pool: no Spark
    context exists after ``run``, this process has no child left, and
    once the CLI process exits nothing of its session is still
    running."""
    import subprocess
    import sys
    import textwrap

    from cassandra_ttl_remover_spark.sources import sstable as ss

    repo = str(Path(__file__).resolve().parent.parent)
    work = Path(tempfile.mkdtemp(prefix="ctrs_clip_"))
    try:
        src = str(work / "src")
        ss.write_sstable(
            [(f"k{p:03d}".encode(),
              [(b"c", ss.EXPIRATION_MASK, 60, 1_700_000_060, p, b"v")])
             for p in range(40)], src)
        script = textwrap.dedent(f"""
            import glob
            from pyspark import SparkContext
            from cassandra_ttl_remover_spark import cli
            cli.run(cli.parse_args([
                "--input", {src!r}, "--output-path", {str(work / "out")!r},
                "--input-format", "sstable", "--output-format", "sstable"]))
            assert SparkContext._active_spark_context is None
            kids = [pid for path in glob.glob("/proc/self/task/*/children")
                    for pid in open(path).read().split()]
            assert not kids, kids
        """)
        proc = subprocess.Popen(
            [sys.executable, "-c", script], cwd=str(work),
            env={**os.environ, "PYTHONPATH": repo}, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True, start_new_session=True)
        _, err = proc.communicate(timeout=300)
        assert proc.returncode == 0, err[-3000:]
        assert len(os.listdir(work / "out")) == len(ss._split_specs(src, 8))
        left = []
        for stat in Path("/proc").glob("[0-9]*/stat"):
            try:
                fields = stat.read_text().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while listed
            if int(fields[3]) == proc.pid:  # the CLI's session id
                left.append(stat.parent.name)
        assert not left, left
    finally:
        shutil.rmtree(work, ignore_errors=True)
