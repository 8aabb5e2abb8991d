"""Benchmark: library ingest through the real probe boundary, and a warm
analytics query mix.

    python3 perfbench/run.py --workload ingest|query_mix --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  One process, one local Spark session on
every available core, one closed-loop client.  Inputs are generated from
``--seed`` under ``.perfbench_work/`` and removed at exit.

- ``ingest``: each operation is one CLI invocation.  A timed pass is a
  build (default flags, TSV sink) over the library without its update
  batch, then ``-u`` over the library with the batch moved in.
- ``query_mix``: each operation is one registry query, materialized into
  a ``noop`` sink; a timed pass runs the mix once in a seed-permuted order.

Every output is checked (see README.md).  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  A failed check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from inputs import make_corpus, make_library, write_standin  # noqa: E402
from measure import Environment, NullTracer, SparkCounters, Tracer, TreeRss, process_start, quantile  # noqa: E402

LIBRARY_TITLES = 300  # 540 probed video files; 27 of them in the update batch
CORPUS_SCALE = 0.25  # 15k lineitem, 3.75k orders, 2.5k events, 125 documents
DRIVER_MEMORY = "2g"
MIN_PASSES = 2  # timed passes at least; query_mix: 32 query executions
MIX = (
    "variant_report", "update_anti_join", "merge_union_sort", "q1_pricing_summary",
    "join_star_revenue", "q3_shipping_priority", "q18_large_volume_customer",
    "window_topk_per_group", "dedup_exact", "dedup_minhash_lsh", "dedup_jaccard_prefix",
    "knn_cosine_topk", "text_metrics", "explode_tokens", "heavy_hitters_cms", "stream_session_windows",
)
# inputs of the layers a workload does not reach, so that a traced run of
# either workload measures every layer
SIDE_TITLES = 100
SIDE_SCALE = 0.05


def process_age() -> float:
    """Seconds since this process started (interpreter start included)."""
    return time.clock_gettime(time.CLOCK_BOOTTIME) - process_start()


def pin_environment(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the package's 8g default lets G1 grow the heap by timing: identical
    # runs peaked anywhere from 2.8 to 5.0 GB; 2g holds both workloads
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # temporary files stay in the work tree: Spark blocks, PySpark's and the
    # JVM's temp files (get_session), Python's tempfile
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # Python workers import the package by reference; cwd is not enough
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    return cpus


class Failures:
    def __init__(self) -> None:
        self.attempted = self.failed = 0

    @contextlib.contextmanager
    def op(self, what: str):
        """One operation: it fails if it raises or a check in it fails."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr)


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


# --- ingest ----------------------------------------------------------------


def run_cli(argv: list[str]) -> tuple[float, str]:
    from video_metadata_db_spark.__main__ import main

    buf = io.StringIO()
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    dt = time.perf_counter() - t0
    check(rc == 0, f"exit code {rc}")
    return dt, buf.getvalue()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def read_db(db: str) -> list[list[str]]:
    """Rows of a TSV db directory, part files in name order, headers dropped."""
    rows = []
    for name in sorted(os.listdir(db)):
        if name.startswith("part-"):
            with open(os.path.join(db, name), encoding="utf-8") as f:
                rows.extend(line.rstrip("\n").split("\t") for line in list(f)[1:])
    return rows


def sort_line(r: list[str]) -> str:
    """The whole line the program sorts on, rebuilt from a written row:
    the CSV writer trims the padded width/height and the single-space
    missing subtitle sizes, and NULL audio cells are skipped in the key."""
    f = list(r)
    f[0], f[1] = f[0].rjust(4), f[1].rjust(4)
    f[13], f[15] = f[13] or " ", f[15] or " "
    return "\t".join(v for i, v in enumerate(f) if v or i not in (9, 10))


def probe_summary(out: str) -> tuple[int, int]:
    m = re.search(r"files probed: (\d+), ok: \d+, failed: (\d+)", out)
    check(m is not None, "no probe summary printed")
    return int(m.group(1)), int(m.group(2))


class Ingest:
    """A seeded library; one operation is one CLI invocation."""

    def __init__(self, work: str, seed: int, titles: int) -> None:
        self.work = work
        self.lib = make_library(os.path.join(work, "library"), os.path.join(work, "staged"), seed, titles)
        self.standin = write_standin(os.path.join(work, "ffprobe"))
        self.count_file = os.path.join(work, "probe_calls")
        self.counting = write_standin(os.path.join(work, "ffprobe-counting"), self.count_file)
        lib = self.lib
        self.base_good = lib.good - lib.new_good
        self.base_corrupt = len(lib.corrupt - lib.new_corrupt)
        self.base_candidates = lib.candidates - lib.new_candidates
        self.runs = 0

    def probe_calls(self) -> int:
        return os.path.getsize(self.count_file) if os.path.exists(self.count_file) else 0

    def build(self, out: str, standin: str) -> dict:
        lib = self.lib
        dt, text = run_cli(["--output", out, "--ffprobe-bin", standin, lib.root])
        db = os.path.join(out, "metadata_db.tsv")
        rows = read_db(db)
        paths = [r[17] for r in rows]
        check(len(paths) == len(set(paths)) and set(paths) == self.base_good,
              f"build wrote {len(paths)} paths, expected the {len(self.base_good)} good videos")
        keys = [sort_line(r) for r in rows]
        check(all(a >= b for a, b in zip(keys, keys[1:])), "build db is not in whole-line descending order")
        check(sum(r[12] == "Y" for r in rows) == len(lib.sub_en & self.base_good), "English subtitle Y count")
        check(sum(r[14] == "Y" for r in rows) == len(lib.sub_en_hi & self.base_good), "HI subtitle Y count")
        check(probe_summary(text) == (self.base_candidates, self.base_corrupt), "build probe/dead-letter counts")
        return {"kind": "build", "s": dt, "rows": len(rows), "bytes": dir_bytes(db), "files": self.base_candidates}

    def update(self, out: str, standin: str) -> dict:
        lib = self.lib
        db = os.path.join(out, "metadata_db.tsv")
        before = dir_bytes(db)
        dt, text = run_cli(["-u", "--output", out, "--ffprobe-bin", standin, lib.root])
        m = re.search(r"update: appended (\d+) new rows", text)
        check(m is not None and int(m.group(1)) == len(lib.new_good),
              f"update appended {m and m.group(1)}, expected {len(lib.new_good)}")
        paths = [r[17] for r in read_db(db)]
        check(len(paths) == len(set(paths)), "update left duplicate paths in the db")
        check(set(paths) == lib.good, "db after update does not hold exactly the good videos")
        check(probe_summary(text) == (lib.candidates, len(lib.corrupt)), "update probe/dead-letter counts")
        return {"kind": "update", "s": dt, "rows": int(m.group(1)), "bytes": dir_bytes(db) - before,
                "files": lib.candidates}

    def run_pass(self, fails: Failures, tracer=NullTracer()) -> list[dict]:
        """Build over the library without its update batch, then update with
        it; the db and the batch are reset afterwards.  Traced passes use
        the stand-in that counts its invocations."""
        self.runs += 1
        out = os.path.join(self.work, f"db{self.runs}")
        standin = self.counting if tracer.enabled else self.standin
        ops = []
        with fails.op("ingest build"):
            with tracer.span("cli.build", count=True):
                calls = self.probe_calls()
                ops.append(self.build(out, standin))
            ops[-1]["calls"] = self.probe_calls() - calls
        self.lib.add_new()
        try:
            with fails.op("ingest update"):
                with tracer.span("cli.update", count=True):
                    calls = self.probe_calls()
                    ops.append(self.update(out, standin))
                ops[-1]["calls"] = self.probe_calls() - calls
        finally:
            self.lib.remove_new()
            shutil.rmtree(out, ignore_errors=True)
        return ops

    def layer_sweep(self, spark, tracer: Tracer) -> dict[str, float]:
        """Call each ingest layer directly, its inputs cached beforehand,
        and force its output with an action inside its span."""
        from pyspark.sql import functions as F

        from video_metadata_db_spark.operators.parity import update_new_files
        from video_metadata_db_spark.operators.pipeline import build_metadata_records, filter_candidates
        from video_metadata_db_spark.operators.probe import probe_videos
        from video_metadata_db_spark.sources.listing import list_files
        from video_metadata_db_spark.sources.tsv import from_boundary, read_metadata_tsv, write_metadata_tsv

        base = os.path.join(self.work, "sweep-base")
        run_cli(["--output", base, "--ffprobe-bin", self.standin, self.lib.root])
        self.lib.add_new()
        try:
            out = {}
            with tracer.span("listing.list_files"):
                listing = list_files(spark, [self.lib.root]).cache()
                out["listing.files"] = listing.count()
            check(out["listing.files"] == self.lib.listed, "sweep listed files (pruned directories excluded)")
            with tracer.span("probe.probe_videos"):
                probed = probe_videos(filter_candidates(listing, assume_pruned=True),
                                      ffprobe_bin=self.standin).cache()
                probed.count()
            out["probe.dead_letter_rows"] = probed.filter(F.col("error").isNotNull()).count()
            check(out["probe.dead_letter_rows"] == len(self.lib.corrupt), "sweep dead-letter rows")
            sidecars = listing.filter(F.col("name").rlike(r"\.srt$")).select("path", "size_bytes")
            with tracer.span("pipeline.build_metadata_records"):
                records, _ = build_metadata_records(listing, probed, sidecars, assume_pruned=True)
                records = records.cache()
                check(records.count() == len(self.lib.good), "sweep record count")
            with tracer.span("tsv.read_metadata_tsv"):
                existing = from_boundary(read_metadata_tsv(spark, os.path.join(base, "metadata_db.tsv"),
                                                           header=True)).cache()
                existing.count()
            with tracer.span("parity.update_new_files"):
                n_new = update_new_files(records, existing).count()
            check(n_new == len(self.lib.new_good), "sweep anti-join rows")
            db = os.path.join(self.work, "sweep-db")
            with tracer.span("tsv.write_metadata_tsv"):
                write_metadata_tsv(records, db, header=True)
            out["tsv.part_files"] = sum(n.startswith("part-") for n in os.listdir(db))
            out["tsv.bytes_written"] = dir_bytes(db)
            for df in (listing, probed, records, existing):
                df.unpersist()
            return out
        finally:
            self.lib.remove_new()


# --- query mix ---------------------------------------------------------------


class QueryMix:
    """A seeded parquet corpus; one operation is one registry query."""

    def __init__(self, spark, work: str, seed: int, scale: float) -> None:
        from video_metadata_db_spark.plans import QUERIES

        self.spark, self.seed, self.queries = spark, seed, QUERIES
        self.corpus = os.path.join(work, f"corpus-{scale}")
        make_corpus(self.corpus, seed, scale)
        self.digests: dict[str, tuple] = {}
        self.passes = 0

    def check_oracles(self, fails: Failures) -> None:
        """Each query against the registry's DuckDB oracle, untimed."""
        from tests.oracle_utils import compare_query

        for name in MIX:
            with fails.op(f"oracle {name}"):
                compare_query(self.spark, name, self.corpus)

    def execute(self, name: str) -> tuple[float, tuple]:
        """Materialize one query into a noop sink; an observation on its
        output rows yields (row count, order-insensitive digest)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.corpus)
        cols = []
        for f in df.schema.fields:
            c = F.col(f"`{f.name}`")
            if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                c = F.round(c, 6)
            elif isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
                c = F.to_json(c)
            cols.append(c)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64(*cols).bitwiseAND(0xFFFFFFFF)).alias("h"),
                   ).write.format("noop").mode("overwrite").save()
        got = obs.get
        return time.perf_counter() - t0, (got["n"], got["h"])

    def run_pass(self, fails: Failures, tracer=NullTracer()) -> list[dict]:
        order = list(MIX)
        random.Random(self.seed * 1009 + self.passes).shuffle(order)
        self.passes += 1
        ops = []
        for name in order:
            with fails.op(f"query {name}"):
                with tracer.span(f"plans.{name}", count=True):
                    dt, digest = self.execute(name)
                check(digest[0] > 0, f"{name}: empty result")
                ref = self.digests.setdefault(name, digest)
                check(digest == ref, f"{name}: result digest {digest} differs from first pass {ref}")
                ops.append({"s": dt, "name": name})
        return ops


# --- one run ---------------------------------------------------------------------


def get_session(work: str, traced: bool):
    from video_metadata_db_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if traced:  # keep every stage in the status store between span reads
        conf.update({"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
    return get_spark("perfbench", extra_conf=conf)


def timed_passes(bench, seconds: float, fails: Failures) -> list[list[dict]]:
    passes, t0 = [], time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        passes.append(bench.run_pass(fails))
    return passes


def end_to_end(ready: dict[str, float], passes: list[list[dict]], rss: TreeRss, workload: str) -> dict:
    """A request is one query for query_mix, one pass (build + update) for
    ingest: its two invocations differ too much to share a percentile."""
    walls = [sum(op["s"] for op in p) for p in passes]
    lat = walls if workload == "ingest" else [op["s"] for p in passes for op in p]
    items = sum(op.get("files", 1) for p in passes for op in p)
    m = {
        "setup_s": (ready["setup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "items_per_s": (items / sum(walls), "1/s"),
        "op_p50_s": (quantile(lat, 50), "s"),
        "op_p75_s": (quantile(lat, 75), "s"),
        "peak_rss_mb": (rss.peak_bytes / 2**20, "MiB"),
    }
    detail = {"workload": workload, "ready_at": ready, "passes": len(passes), "requests": len(lat),
              "pass_s": walls, "peak_mb_by_process": {k: v / 2**20 for k, v in rss.peak_parts.items()}}
    if workload == "ingest":
        for kind in ("build", "update"):
            ops = [op for p in passes for op in p if op["kind"] == kind]
            detail[f"{kind}_s"] = statistics.median(op["s"] for op in ops)
            detail[f"{kind}_files_per_s"] = sum(op["files"] for op in ops) / sum(op["s"] for op in ops)
            detail[f"{kind}_bytes_written_per_row"] = statistics.median(
                op["bytes"] / max(op["rows"], 1) for op in ops)
    else:
        detail["queries_per_s"] = len(lat) / sum(walls)
        detail["query_p50_s"], detail["query_p75_s"] = quantile(lat, 50), quantile(lat, 75)
    print(json.dumps({"detail": detail}))
    return m


def layer_metrics(tracer: Tracer, counts: dict[str, int], pair: list[dict], new_files: int) -> dict:
    m = {k: (v, "bytes" if k.endswith("bytes_written") else "count") for k, v in counts.items()}
    for span, key in (("listing.list_files", "listing.wall_s"), ("probe.probe_videos", "probe.wall_s"),
                      ("pipeline.build_metadata_records", "pipeline.records_s"),
                      ("parity.update_new_files", "parity.update_anti_join_s"),
                      ("tsv.read_metadata_tsv", "tsv.read_s"), ("tsv.write_metadata_tsv", "tsv.write_s"),
                      ("cli.build", "cli.build_s"), ("cli.update", "cli.update_s"),
                      *((f"plans.{q}", f"plans.{q}_s") for q in MIX)):
        m[key] = (tracer.last_self_time(span), "s")
    build, update = pair
    m["probe.calls"] = (build["calls"] + update["calls"], "count")
    m["probe.calls_per_file"] = (build["calls"] / build["files"], "ratio")
    m["probe.calls_per_new_file"] = (update["calls"] / new_files, "ratio")
    m["cli.build_bytes_per_row"] = (build["bytes"] / max(build["rows"], 1), "B")
    m["cli.update_bytes_per_row"] = (update["bytes"] / max(update["rows"], 1), "B")
    return m


def session_counters(tracer: Tracer, spans: range) -> dict:
    """Engine counter totals over the given spans (one traced pass)."""
    tot: dict[str, float] = {}
    for i in spans:
        for k, v in tracer.spans[i].counters.items():
            tot[k] = tot.get(k, 0.0) + v
    return {f"session.{k}": (v, "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
            for k, v in tot.items()}


def traced_run(spark, bench, side, workload: str, fails: Failures, run_id: str):
    """Untraced and traced passes alternate, for the tracing overhead; then
    the ingest layers are called one by one.  ``side`` holds the inputs of
    the layers this workload does not reach, so every layer is measured."""
    tracer = Tracer(run_id, SparkCounters(spark))
    untraced, traced = [], []
    for is_traced in (False, True, True, False):  # ABBA: a warming trend cancels
        if not is_traced:
            untraced.append(sum(op["s"] for op in bench.run_pass(fails)))
            continue
        with tracer.span("pass") as sp:
            first = len(tracer.spans)
            ops = bench.run_pass(fails, tracer)
        traced.append(sp.seconds)
    m = session_counters(tracer, range(first, len(tracer.spans)))
    # a difference of two medians of two passes: noise can make it negative
    m["tracing_overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
    ingest, mix = (bench, side) if workload == "ingest" else (side, bench)
    pair = ops if workload == "ingest" else ingest.run_pass(fails, tracer)
    counts = ingest.layer_sweep(spark, tracer)
    if workload == "ingest":
        mix.run_pass(fails, tracer)
    m.update(layer_metrics(tracer, counts, pair, ingest.lib.new_candidates))
    return m, tracer


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def measure(args, spark, work: str, fails: Failures, rss: TreeRss, run_id: str) -> dict:
    ready = {"session_s": process_age()}  # set-up milestones, as process age
    if args.workload == "ingest":
        bench = Ingest(work, args.seed, LIBRARY_TITLES)
        ready["inputs_s"] = process_age()
        bench.run_pass(fails)  # warm-up, outputs checked
    else:
        bench = QueryMix(spark, work, args.seed, CORPUS_SCALE)
        ready["inputs_s"] = process_age()
        bench.check_oracles(fails)  # also the warm-up
    if not args.trace:
        ready["setup_s"] = process_age()
        passes = timed_passes(bench, args.seconds, fails)
        return end_to_end(ready, passes, rss, args.workload)
    side = (QueryMix(spark, work, args.seed, SIDE_SCALE) if args.workload == "ingest"
            else Ingest(os.path.join(work, "side"), args.seed, SIDE_TITLES))
    metrics, tracer = traced_run(spark, bench, side, args.workload, fails, run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.spans.json"), "w") as f:
        json.dump(tracer.dump(), f)
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    env = Environment(ROOT, args.seed, pin_environment(work))
    fails = Failures()
    spark = None
    try:
        with TreeRss() as rss:
            spark = get_session(work, bool(args.trace))
            metrics = measure(args, spark, work, fails, rss, run_id)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env.record()}))
    print(json.dumps({
        "correct": fails.failed == 0,
        "attempted": fails.attempted,
        "failed": fails.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if fails.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
