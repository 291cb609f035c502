"""CLI driver (SURVEY.md §2.1 M7, §3.1).

Mirrors the reference's picocli surface (TTLRemoverCLI.java:25-70) and its
option cross-validation matrix (:165-197): version <-> cql requirements,
--sstables xor --sstable, output path handling. Produces a job spec and runs
it in parallel in place of the reference's sequential per-file loop (§3.1
step 5):

- sstable -> sstable is the reference's own dataflow: each index-snapped
  split of each input table is stripped at the byte level into its own
  output shard (``rewrite_stripped``), with no shuffle. The splits run on
  a local fork pool of one worker per core the local master would get,
  and no Spark session is started: on ``local[...]`` a Spark job would use
  the same cores and add a JVM and a per-job floor. Merging many
  generations into non-overlapping shards is compaction
  (``compact_rewrite``), not this job.
- sstable -> parquet and parquet -> parquet strip a cell frame and write it
  sorted and range-partitioned (``write_sorted``) on a Spark session.

A job that fails exits 1 with ``error: <ExceptionType>: <message>`` on
stderr.

Usage:
    python -m cassandra_ttl_remover_spark.cli \
        --format-version 3 --input DIR_OR_FILE --output-path OUT \
        --cql 'CREATE TABLE ks.t (...)' [--now EPOCH_SECONDS]
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import dataclass

from cassandra_ttl_remover_spark.registry import get_strategy, registered_versions


@dataclass
class JobSpec:
    version: str
    input_path: str
    output_path: str
    cql: str | None
    now: int | None
    pk: str
    clustering: list[str]
    input_format: str = "parquet"
    output_format: str = "parquet"


class TTLRemovalError(RuntimeError):
    """Analog of TTLRemovalException (TTLRemovalException.java:3-15): any
    failure surfaces as exit code 1 (TTLRemoverCLI.java:102-118)."""


def parse_args(argv: list[str]) -> JobSpec:
    from cassandra_ttl_remover_spark import __version__

    p = argparse.ArgumentParser(prog="ttl-remover-spark")
    # tool version from package metadata — the reference surfaces it from
    # the jar manifest (JarManifestVersionProvider.java:1-20, wired by
    # TTLRemoverCLI.java:26's mixinStandardHelpOptions)
    p.add_argument("--version", action="version",
                   version=f"%(prog)s {__version__}")
    p.add_argument("--format-version", default="3", choices=registered_versions(),
                   help="source format generation (reference: cassandra 2/3/4/4.1)")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--input", help="directory of data files (recursive)")
    g.add_argument("--input-file", help="a single data file")
    p.add_argument("--output-path", required=True)
    p.add_argument("--cql", help="CREATE TABLE DDL declaring the schema "
                                 "(required for cell-struct formats 3/4/4.1)")
    p.add_argument("--now", type=int, default=None,
                   help="deterministic 'now' epoch-seconds (SURVEY.md §2.3.1)")
    p.add_argument("--pk", default="user_id")
    p.add_argument("--clustering", default="")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "sstable"],
                   help="sstable = the reference's NATIVE on-disk format "
                        "(Data.db/Index.db directories)")
    p.add_argument("--output-format", default="parquet",
                   choices=["parquet", "sstable"],
                   help="sstable = rewrite each input split into its "
                        "own stripped SSTable shard (the reference's "
                        "output side; requires --input-format sstable)")
    a = p.parse_args(argv)

    # option matrix (TTLRemoverCLI.java:165-197): cql required iff the format
    # needs a declared schema (the reference requires it for C3/4/4.1 and
    # loads from disk for C2). The native sstable source carries its own
    # fixed cell schema — like the reference's C2 path, no DDL needed.
    if (a.input_format != "sstable" and a.format_version != "2"
            and not a.cql):
        p.error(f"--cql is required for format-version {a.format_version}")
    return JobSpec(
        version=a.format_version,
        input_path=a.input or a.input_file,
        output_path=a.output_path,
        cql=a.cql,
        now=a.now,
        pk=a.pk,
        clustering=[c for c in a.clustering.split(",") if c],
        input_format=a.input_format,
        output_format=a.output_format,
    )


def run(spec: JobSpec) -> int:
    if spec.output_format == "sstable" and spec.input_format != "sstable":
        raise TTLRemovalError(
            "--output-format sstable requires --input-format sstable "
            "(the binary sink consumes the native cell schema)")
    try:
        if spec.output_format == "sstable":
            # the reference's job verbatim on its NATIVE format: the
            # zero-shuffle per-split rewrite on a local pool, no session
            # (sidecars re-emitted, so outputs pass verify_digests)
            from cassandra_ttl_remover_spark.sources.sstable import (
                rewrite_stripped,
            )

            rewrite_stripped(None, spec.input_path, spec.output_path)
            return 0
        from cassandra_ttl_remover_spark import get_spark, scan, write_sorted
        from cassandra_ttl_remover_spark.schema import parse_cql_create_table

        spark = get_spark("ttl-remover-cli")
        if spec.input_format == "sstable":
            # scan -> strip -> sorted parquet
            from cassandra_ttl_remover_spark.sources.sstable import (
                scan_sstable,
                strip_ttl_cells,
            )

            stripped = strip_ttl_cells(
                scan_sstable(spark, spec.input_path))
            write_sorted(stripped, spec.output_path, pk="pk",
                         clustering=["cell"])
            return 0
        schema = None
        pk, clustering = spec.pk, spec.clustering
        if spec.cql:
            table = parse_cql_create_table(spec.cql)
            pk = table.partition_keys[0]
            clustering = table.clustering_keys
        df = scan(spark, spec.input_path, schema=schema)
        stripped = get_strategy(spec.version).strip(df)
        write_sorted(stripped, spec.output_path, pk=pk, clustering=clustering)
        return 0
    except Exception as e:  # noqa: BLE001 — CLI boundary
        raise TTLRemovalError(f"{type(e).__name__}: {e}") from e


def main(argv: list[str] | None = None) -> int:
    try:
        return run(parse_args(argv if argv is not None else sys.argv[1:]))
    except TTLRemovalError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
