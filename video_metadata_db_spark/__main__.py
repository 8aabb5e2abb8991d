"""CLI entry point — parity with the reference's command-line surface.

The reference is invoked as ``python video_metadata_db.py [flags]
<paths...>`` (``cmd_line_parse``, video_metadata_db.py:850-915; mode
dispatch in ``main``, :1475-1602).  Same surface here::

    python -m video_metadata_db_spark [flags] <paths...>

Flags (mirroring :856-905):
    -p / --percentage-completion   pre-pass file count + progress line
    -n / --nomedia                 drop .nomedia markers in filtered dirs
    -v / --verbose                 print the variant report at the end
    -u / --update                  update mode: probe only files not in db
    -m / --merge                   merge mode: inputs are TSV dbs

Engine-side additions (no reference analogue):
    --output DIR        where db directories are written (default cwd)
    --probe-fixture P   parquet of probe results keyed by path — the CI
                        path when ffprobe is absent (PROBE_SCHEMA cols)
    --format tsv|parquet  sink format (parquet = the engine-native form)

Mode dispatch mirrors §3: build (default) = list → filter → probe →
sidecar join → sorted per-volume TSV; update = the same behind a
left-anti membership join + append (:579-582); merge = union-all +
whole-line sort + header (:1361-1456).  Every stage is a DataFrame —
the thread pool, the five mutexes, and the external OS ``sort`` of the
reference have no equivalent here by design.

One invocation walks the tree once and runs ffprobe once per candidate:
the listing is cached and the probe output is persisted, so the ``-p``
headcount, update's count, the sorted sink, the dead-letter report and
the ``-v`` variant report all read the same rows.  Both are released
before ``main`` returns.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _parse_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="python -m video_metadata_db_spark",
        description=(
            "Reads metadata (resolution, size, title, etc.) from video files "
            "and dumps all in a tab separated values (TSV) database — "
            "PySpark edition"
        ),
    )
    parser.add_argument(
        "-p", "--percentage-completion", action="store_true", dest="percentage",
        help="Count files up front and report the total (progress pre-pass)",
    )
    parser.add_argument(
        "-n", "--nomedia", action="store_true",
        help="Create a .nomedia marker file in each filtered directory",
    )
    parser.add_argument(
        "-v", "--verbose", action="store_true",
        help="Verbose output; prints the variant report after the build",
    )
    group = parser.add_mutually_exclusive_group()
    group.add_argument(
        "-u", "--update", action="store_true", dest="update_mode",
        help="Update the metadata db with files not already present",
    )
    group.add_argument(
        "-m", "--merge", action="store_true", dest="merge_mode",
        help="Consolidate multiple TSV metadata dbs into a single file",
    )
    parser.add_argument("--output", default=".", help="Output directory for db files")
    parser.add_argument(
        "--probe-fixture", default=None,
        help="Parquet of PROBE_SCHEMA rows to use instead of running ffprobe",
    )
    parser.add_argument(
        "--format", default="tsv", choices=("tsv", "parquet"), dest="sink_format",
        help="Database sink format (tsv = reference parity; parquet = native)",
    )
    parser.add_argument(
        "--ffprobe-bin", default="ffprobe", dest="ffprobe_bin",
        help="ffprobe executable to invoke (name on PATH or absolute path)",
    )
    parser.add_argument(
        "--no-audio", action="store_true", dest="no_audio",
        help=(
            "Omit audio columns from the db; the ffprobe call itself "
            "narrows to video streams (-select_streams v) — probe "
            "elision at the process boundary"
        ),
    )
    parser.add_argument("paths", nargs="+", help="Directories to scan (or TSV dbs with -m)")
    ns = parser.parse_args(argv)
    if ns.no_audio and ns.sink_format != "parquet":
        # the reference TSV db is a FIXED 18-column format (audio
        # columns included) — elision only narrows the native sink
        parser.error("--no-audio requires --format parquet "
                     "(the TSV db format is fixed by reference parity)")
    return ns


def _probe(
    spark: SparkSession,
    candidates: DataFrame,
    fixture: str | None,
    fields: tuple[str, ...] | None = None,
    ffprobe_bin: str = "ffprobe",
) -> DataFrame:
    import shutil

    from .operators.probe import probe_from_fixture, probe_videos

    if fixture:
        probed = probe_from_fixture(candidates, spark.read.parquet(fixture))
        if fields is not None:  # fixture rows carry every column; narrow
            probed = probed.select("path", *fields, "error")
        return probed
    if shutil.which(ffprobe_bin) is None:
        print(
            f"warning: {ffprobe_bin} not found — all rows will dead-letter "
            "(pass --probe-fixture for a fixture-driven run)",
            file=sys.stderr,
        )
    return probe_videos(candidates, fields=fields, ffprobe_bin=ffprobe_bin)


@contextmanager
def _build_records(
    spark: SparkSession,
    roots: list[str],
    fixture: str | None,
    no_audio: bool = False,
    ffprobe_bin: str = "ffprobe",
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame, "Observation"]]:
    """list → filter → probe → sidecar join → (candidates, records,
    dead_letter, probe-stats observation), released on exit.

    The probe output is persisted *below* the ``Observation`` (reference:
    the run summary + ``-p`` progress counters, video_metadata_db.py:
    456-535, :1293-1315), so the first action both materializes it and
    brings back the total/failed counts.  Every later action — update's
    count, the sink, the dead-letter and variant reports — reads those
    rows instead of launching ffprobe again.  The listing is cached the
    same way: candidates, sidecars and the ``-p`` headcount share one
    walk.  Both caches are released when the ``with`` block exits.

    ``no_audio`` drops the audio columns from the sink schema and
    propagates the narrowed field set down to the ffprobe invocation
    (probe elision — ``probe_fields_for``): the audio dissection the
    reference always pays is skipped at the process boundary.
    """
    from pyspark.sql import Observation

    from .operators.pipeline import build_metadata_records, filter_candidates
    from .operators.probe import probe_fields_for
    from .schemas import METADATA_SCHEMA
    from .sources.listing import list_files

    fields = None
    if no_audio:
        sink_cols = [
            f.name
            for f in METADATA_SCHEMA.fields
            if f.name not in ("audio_codec", "audio_channels")
        ]
        fields = probe_fields_for(sink_cols)

    listing = list_files(spark, roots, volume_label=_volume_label(roots)).cache()
    try:
        candidates = filter_candidates(listing, assume_pruned=True)
        probed = _probe(spark, candidates, fixture, fields, ffprobe_bin).persist()
        try:
            obs = Observation("probe_stats")
            observed = probed.observe(
                obs,
                F.count(F.lit(1)).alias("n_probed"),
                F.count(F.col("error")).alias("n_failed"),
            )
            sidecars = listing.filter(F.col("name").rlike(r"\.srt$")).select("path", "size_bytes")
            records, dead = build_metadata_records(listing, observed, sidecars, assume_pruned=True)
            yield candidates, records, dead, obs
        finally:
            probed.unpersist()
    finally:
        listing.unpersist()


def _volume_label(roots: list[str]) -> str:
    """Unix volume label: mountpoint of the first root (parity with
    ``get_volume_label``, :169-187, psutil branch)."""
    try:
        import psutil  # noqa: F401 — optional, like the reference's lazy import

        return psutil.disk_partitions()[0].mountpoint
    except Exception:
        return os.path.sep


def _write(records: DataFrame, out_dir: str, fmt: str, mode: str) -> str:
    from .sources.tsv import write_metadata_tsv

    if fmt == "parquet":
        path = os.path.join(out_dir, "metadata_db.parquet")
        records.write.mode(mode).parquet(path)
    else:
        path = os.path.join(out_dir, "metadata_db.tsv")
        write_metadata_tsv(records, path, header=True, mode=mode)
    return path


def _report(stats: dict, dead: DataFrame, records: DataFrame, verbose: bool) -> None:
    n_total, n_fail = stats.get("n_probed", 0), stats.get("n_failed", 0)
    print(f"files probed: {n_total}, ok: {n_total - n_fail}, failed: {n_fail}")
    if n_fail:
        print("failures:")
        for r in dead.select("path", "error").limit(20).collect():
            print(f"  {r['path']}: {r['error']}")
    if verbose:
        from .operators.parity import variant_report

        print("variant report (titles with >1 file):")
        # cap the driver-side collect like the failure list above: console
        # output is for humans, the full report belongs in the db files
        cap = 200
        rows = variant_report(records, detail_cols=("width", "height", "path")).limit(cap + 1).collect()
        for r in rows[:cap]:
            print(f"  {r['title']}: {r['n_variants']} variants")
            for v in r["variants"]:
                print(f"    {v['width']}x{v['height']}  {v['path']}")
        if len(rows) > cap:
            print(f"  … and more (showing first {cap} titles)")


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv if argv is not None else sys.argv[1:])
    from .session import get_spark

    spark = get_spark("vmdb-cli")

    if args.merge_mode:
        # merge mode (:1361-1456): union-all TSV dbs → whole-line sort → header
        from .operators.parity import merge_metadata_dbs
        from .sources.tsv import boundary_sorted, read_metadata_tsv

        dbs = [read_metadata_tsv(spark, p, header=True) for p in args.paths]
        merged = boundary_sorted(merge_metadata_dbs(dbs, sort_cols=[]))
        out = os.path.join(args.output, "metadata_db_merged.tsv")
        (
            merged.write.mode("overwrite")
            .option("sep", "\t").option("header", "true")
            .option("emptyValue", "").option("nullValue", "")
            .csv(out)
        )
        print(f"merged {len(dbs)} dbs -> {out}")
        return 0

    if args.nomedia:
        from .sources.sideeffects import create_nomedia_markers, filtered_dirs

        created = create_nomedia_markers(filtered_dirs(spark, args.paths))
        print(f".nomedia markers: {created.filter(F.col('status') == 'created').count()} created")

    with _build_records(
        spark,
        args.paths,
        args.probe_fixture,
        no_audio=args.no_audio,
        ffprobe_bin=args.ffprobe_bin,
    ) as (candidates, records, dead, obs):
        if args.percentage:
            # two-pass headcount (:1545-1568) — one count over the cached listing
            print(f"files to probe: {candidates.count()}")

        if args.update_mode:
            # update mode (:579-582, :1529-1532): anti-join against the
            # existing db's paths, append only the new rows
            from .operators.parity import update_new_files
            from .sources.tsv import from_boundary, read_metadata_tsv

            db_path = os.path.join(args.output, "metadata_db.tsv")
            if args.sink_format == "parquet":
                db_path = os.path.join(args.output, "metadata_db.parquet")
            # no db yet: update degenerates to build (:1254-1283).  A db
            # that exists but cannot be read fails here, never re-appends.
            if os.path.exists(db_path):
                if args.sink_format == "parquet":
                    existing = spark.read.parquet(db_path)
                else:
                    existing = from_boundary(read_metadata_tsv(spark, db_path, header=True))
                records = update_new_files(records, existing, key="path")
            n_new = records.count()
            if n_new:
                _write(records, args.output, args.sink_format, mode="append")
            print(f"update: appended {n_new} new rows")
            _report(obs.get, dead, records, args.verbose)
            return 0

        path = _write(records, args.output, args.sink_format, mode="overwrite")
        _report(obs.get, dead, records, args.verbose)
        print(f"db written: {path}")
        return 0


if __name__ == "__main__":
    raise SystemExit(main())
