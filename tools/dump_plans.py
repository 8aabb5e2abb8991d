#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for the headline
queries, with a scan/exchange/codegen summary per query.

The headline queries are the ones PLANS.md already has a ``## <name>``
section for, in that order; add a section heading to add a query.

Run from the repo root: ``python tools/dump_plans.py``.  The artifact is
committed so plan quality (pushdown, pruning, broadcast choices,
whole-stage codegen coverage) is reviewable without a Spark session.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"


def summarize(plan: str) -> str:
    # count tree nodes only: formatted mode renders them "NodeName ... (N)"
    tree = plan.partition("\n\n")[0]

    def nodes(name: str) -> int:
        return len(re.findall(rf"\b{name}\b[^\n]*\(\d+\)$", tree, re.M))

    n_scan = nodes("Scan parquet")
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    return (
        f"scans={n_scan} (pushed-filter scans={pushed}), "
        f"exchanges={nodes('Exchange')}, "
        f"broadcast-joins={nodes('BroadcastHashJoin')}, "
        f"sort-merge-joins={nodes('SortMergeJoin')}"
    )


def headline(queries) -> list[str]:
    text = Path("PLANS.md").read_text(encoding="utf-8")
    return [n for n in re.findall(r"^## (\S+)$", text, re.M) if n in queries]


def main() -> None:
    from video_metadata_db_spark.plans import QUERIES
    from video_metadata_db_spark.session import get_spark

    spark = get_spark("plan-dump")
    out = [
        "# PLANS — physical plans of the headline queries (sf0.1)",
        "",
        "Generated by `python tools/dump_plans.py`; regenerate after plan-affecting",
        "changes.  Gates in `tests/test_plans.py` pin the load-bearing properties",
        "(pushdown, broadcast choices, TakeOrderedAndProject, WindowGroupLimit, no",
        f"cartesian products anywhere in the {len(QUERIES)}-query registry).",
        "",
        "## Bench method, variance envelope, and the regression rule",
        "",
        "The retired `bench.py` reported best-of-2 wall times at sf0.1 on local[32]",
        "(`perfbench/run.py` is the benchmark now); the first",
        "run in a session is ~2× slower (JVM + codegen warmup) and never",
        "comparable.  Repeated WARM runs of a sub-second query on this box vary",
        "±25-30%; treat any cross-round delta inside that envelope on a",
        "sub-2-second absolute as noise unless the physical plan changed.  The",
        "regression rule: investigate when (a) the plan changed, or (b) a warm",
        "median over ≥3 repeats moved >30%, or (c) any query approaches 2× its",
        "BASELINE entry.  Cross-round totals are NOT comparable (coverage",
        "grows); compare the fixed `core16` metric instead.  Never run the bench",
        "concurrently with other Spark work — a contaminated round-5 interim run",
        "showed +20-30% on queries whose plans had not changed.",
        "",
        "Session-order dependence of the dedup family (VERDICT r11 'what's",
        "wrong' #2, documented rather than hidden): the operators share one",
        "8-deep LRU of persisted signature/fingerprint/shingle/edge frames",
        "(`operators/dedup.py:_scoped_persist`).  The FIRST query to need a",
        "given frame pays its build inside its own timed region; later dedup",
        "queries over the same corpus reuse the live cache, so their per-query",
        "bench seconds depend on which dedup queries ran before them in the",
        "session.  The headline TOTAL is order-independent (the build is paid",
        "exactly once either way); only the attribution between dedup entries",
        "shifts.  `tests/test_cache_hygiene.py` bounds the cache scope;",
        "`release_dedup_caches()` gives cache-free sessions.  The triangle",
        "substrate's edge frames share that scope but never reuse each other",
        "(each call's degree table is a fresh localCheckpoint) — per-call",
        "persists only — so graph entries stay order-independent.",
        "",
        "Round-5 triage of the three r3→r4 drifts (4 warm repeats each, quiet",
        "box): `explode_tokens` (warm 0.22-0.25 s ≈ r3) and `dedup_minhash_lsh`",
        "(warm 1.8-2.1 s vs r3 1.9) were variance; `pack_sequences` (warm",
        "0.85-1.0 s vs r3 0.55) is real and explained — round 4 deliberately",
        "removed the quantile-input persist to fix its cache leak, repricing one",
        "extra pass of the 5 k-row token-count projection; values identical, and",
        "the leak fix is the right trade at cluster scale (the persist pinned",
        "corpus-sized state for a boundaries-sized win).",
        "",
        "Round-5 perf changes (plans unchanged elsewhere; core16 15.5 s vs the",
        "17.3 s r1 baseline → 0.89×): `pq_adc_topk` 8.6→3.7 s and",
        "`kmeans_clusters` 3.9→1.9 s from two DRIVER-side fixes — the",
        "k-centroid distance folds now parse JVM-side as one SQL expr instead",
        "of thousands of py4j lambda-Column calls (measured ~3 s/iteration of",
        "pure driver time), and the fold array is projected once so the",
        "optimizer walks one copy of the tree, not three — plus the fused",
        "one-pass multi-subspace PQ trainer (m× fewer corpus scans per",
        "iteration).  An early round-5 bench that showed +15-35% on many",
        "unchanged queries (`resample_forward_fill` 2.8 s) did not reproduce on",
        "the committed re-run (2.1 s ≈ r4): ambient variance, consistent with",
        "the envelope above.  `dedup_components_incremental` (7.0 s) is the",
        "most expensive headline entry by construction: the registered query",
        "BUILDS its premise state (a full star run over the old corpus) before",
        "the incremental merge it actually demonstrates; the per-ingest cost at",
        "scale is the second star run only.",
        "",
        "Round-6 measurements (VERDICT r5 items 4-7):",
        "",
        "- `nb_margin_calibration`: the rn==1/rn==2 window-branch self-join is",
        "  now one `sort_array(collect_list)` aggregate and the per-doc labeled",
        "  frame is persisted across the global-rank passes — warm wall",
        "  4.9 → ~1.5 s, oracle hash unchanged.  Reading its dump below: the",
        "  formatted explain re-prints the persisted InMemoryRelation's whole",
        "  subtree at EVERY reference (hence the headline 'scans=42'); what",
        "  executes is the 20-scan scored tree ONCE to fill the cache, and",
        "  cache reads for the other two references (the r5 form executed the",
        "  39-scan tree with no reuse).",
        "- `dedup_components_incremental` phase split (sf0.1, best of 2):",
        "  **premise build 6.04 s** (SimHash pair generation",
        "  over the whole corpus + the full star run constructing the stored",
        "  old-corpus labels the scenario assumes already exist) vs",
        "  **incremental merge 2.56 s** (what a per-ingest run actually pays).",
        "  The headline entry prices both; steady-state cost is the 2.6 s phase.",
        "- `contamination_check` re-measured on a quiet box: best-of-2 warm in a",
        "  WARMED session is 2.50 s (r4-level); first measurements of a session",
        "  read 3.0-3.9 s.  The r5 'drift' is session/codegen warmth, not a",
        "  regression — and the r5 tokenize-once form is FASTER than the r4",
        "  `shingles_of` form on the dominant corpus-gram stage (1.68 vs 1.87 s,",
        "  same session, same method).",
        "- prefix-Jaccard 10× wall anomaly: measured NOT spill — task",
        "  granularity; see SCALE.md 'Round-6 diagnostic' (26.4 s at 10× with",
        "  128 shuffle partitions = sublinear; partition count scales with",
        "  input on a real cluster).",
        "",
        "Round-7 measurements (VERDICT r6 items 3-4):",
        "",
        "- ANN phase split (sf0.1, best of 2; recorded in BENCH_DETAIL.json",
        "  under 'phases'): the registered ADC queries",
        "  price a ONE-TIME index build inside the timed query.",
        "  `pq_adc_topk`: **index build 1.95 s** (Lloyd's codebooks +",
        "  corpus encode) vs **search 2.79 s**; `ivf_adc_topk`: **build",
        "  1.79 s** vs **search 2.32 s** (incl. the coarse list",
        "  assignment join).  Steady-state per-query ANN cost is the",
        "  search phase; both operators train their codebooks inline, so",
        "  every call pays the build as well.",
        "- `dedup_jaccard_prefix` number reconciliation: the committed",
        "  claim is the ENVELOPE 4.9-5.7 s warm at sf0.1 (best-of-5",
        "  standalone 5.6 s at both 32 and 128 shuffle partitions;",
        "  headline sweeps 4.9-5.2 s) — the r6 3.3 s / 4.0 s standalone",
        "  claims did not reproduce and are superseded (see SCALE.md).",
        "",
        "Round-11 triage (VERDICT r10 item 2): `pack_sequences`",
        "0.90 → 1.27 s is VARIANCE, not a reprice — 7 warm repeats on a",
        "quiet box (steal 0%) read 1.553/1.190/1.072/1.009/0.907/0.933 s",
        "after the cold first run: median 1.04 s, floor 0.907 s ≈ the",
        "r9 0.90 s record, inside the ±25-30% sub-2-second envelope.",
        "The bench's best-of-2 protocol caught the query before codegen",
        "warmup converged.  Plan diff vs the r9 PLANS.md section:",
        "byte-identical.",
        "",
    ]
    for name in headline(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the tree + scan details; drop per-node Input/Output noise
        tree, _, details = plan.partition("\n\n")
        keep = [
            blk
            for blk in details.split("\n\n")
            if "Scan parquet" in blk or "PushedFilters" in blk
        ]
        out.append(f"## {name}")
        out.append("")
        out.append(f"`{summarize(plan)}`")
        out.append("")
        out.append("```")
        out.append(tree.strip())
        for blk in keep:
            out.append("")
            out.append(blk.strip())
        out.append("```")
        out.append("")
        print(f"{name}: {summarize(plan)}")

    Path("PLANS.md").write_text("\n".join(out) + "\n", encoding="utf-8")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
