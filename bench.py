"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is forced with the `noop` sink — full distributed execution,
zero driver-side collect — so timings measure the plan, not the
driver's deserialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from distributedqueryengine_spark.session import get_spark  # noqa: E402

# The consolidated inventory is <=48 queries; bench ALL of them so the
# per-round BENCH file covers exactly what the CORRECTNESS file covers.
HEADLINE: list[str] | None = None  # None → every queries() entry, sorted


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    qs = entry_mod.queries()
    headline = HEADLINE if HEADLINE is not None else sorted(qs)
    # JVM/codegen warm-up: run every headline plan once on the smallest
    # fixture so per-query numbers measure steady-state execution (data
    # processing at sf), not one-time whole-stage-codegen compilation —
    # which a long-running cluster amortizes to zero.
    for name in headline:
        if name in qs:
            try:
                force(qs[name](spark, "/root/testdata/sf0.001"))
            except Exception:
                pass

    timings: dict[str, float] = {}
    for name in headline:
        if name not in qs:
            continue
        # min of two runs: suppresses GC/scheduler noise without hiding
        # real cost. clearCache first — pipelines that persist() internal
        # stages would otherwise serve run 2 from the CacheManager
        # (identical-plan reuse) and report a cache-hit, not a compute.
        runs = []
        for _ in range(2):
            spark.catalog.clearCache()
            # Timer starts BEFORE construction: queries that do eager work
            # at DataFrame-construction time (localCheckpoint of a shared
            # stage, CC iteration) are charged for it — the timed window is
            # construction + full distributed execution, matching what the
            # DuckDB oracle pays for the same answer.
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            force(df)
            runs.append(time.monotonic() - t0)
        timings[name] = round(min(runs), 3)
    total = round(sum(timings.values()), 3)
    # Amortized-ANN lifecycle: build the LSH/IVF indexes ONCE over a
    # ~131k-row replica, then per-batch probe vs per-batch brute force —
    # the recorded evidence that the build/probe split beats brute force
    # per batch (single-shot ANN structurally cannot; see SCALING.md).
    # Not part of `value` (that stays comparable round-over-round).
    ann = None
    try:
        from distributedqueryengine_spark.annbench import ann_lifecycle

        # n_batches=5 (was 2 through r6): amortization is the point —
        # min-of-5 disjoint probe batches is the steady-state per-batch
        # cost a query service pays, and 2 batches under-sold it (the r6
        # recorded IVF number landed inside box noise of brute force).
        # clearCache first: 50 queries of leftover persisted stages
        # otherwise compete with the corpus/index persists for executor
        # memory and inflate the build wall vs a fresh JVM
        spark.catalog.clearCache()
        ann = ann_lifecycle(spark, sf_dir, corpus_rows=131072, n_batches=5)
    except Exception:
        pass
    # Second corpus point (r11): 132k sits BELOW the amortization
    # crossover once brute force is properly parallelized — the probes
    # win decisively at ~1.3M rows (SCALE_PROBE_r11.json: IVF 1.35s vs
    # brute 5.25s per batch). Recording both points makes the crossover
    # a bench fact instead of a footnote.
    ann10 = None
    try:
        from distributedqueryengine_spark.annbench import ann_lifecycle

        spark.catalog.clearCache()
        ann10 = ann_lifecycle(spark, sf_dir, corpus_rows=1310720, n_batches=3)
    except Exception:
        pass
    # approx_sketches split: the oracled row computes sketch AND exact
    # verification values in one plan (the exact side dominates); this
    # times the sketch-only shape — what actually runs at 100 TB — so
    # both numbers are first-class bench facts instead of a footnote.
    sketch_split = None
    try:
        from distributedqueryengine_spark.inventory import (
            approx_sketches_sketch_only,
        )

        force(approx_sketches_sketch_only(spark, "/root/testdata/sf0.001"))
        runs = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            force(approx_sketches_sketch_only(spark, sf_dir))
            runs.append(time.monotonic() - t0)
        sketch_split = {
            "full_with_exact_verification": timings.get("approx_sketches"),
            "sketch_only": round(min(runs), 3),
        }
    except Exception:
        pass
    # Per-branch splits for composite suites (r11): suites absorb new
    # branches inside fixed keys, so round-over-round suite deltas need
    # a per-branch attribution. Branches that SHARE a pass inside the
    # suite (dedup spine, sim brute force) run standalone here, so a
    # suite's splits can sum to MORE than its one-plan suite row.
    branch_splits: dict[str, dict[str, float]] = {}
    try:
        from distributedqueryengine_spark.inventory import BENCH_SPLITS

        for suite, branches in BENCH_SPLITS.items():
            if suite not in timings:
                continue
            split: dict[str, float] = {}
            for bname, fn in branches.items():
                try:
                    runs = []
                    for _ in range(2):
                        spark.catalog.clearCache()
                        t0 = time.monotonic()
                        force(fn(spark, sf_dir))
                        runs.append(time.monotonic() - t0)
                    split[bname] = round(min(runs), 3)
                except Exception:
                    split[bname] = -1.0  # branch failed; visible, not fatal
            split["suite_one_plan"] = timings[suite]
            branch_splits[suite] = split
    except Exception:
        pass
    # Key order matters for durability, not semantics: the driver's
    # per-round capture has twice recorded only the TAIL of this line
    # (r11/r12 lost the 50-row timing map), so the per-query dict and
    # the splits go LAST — a truncated head loses the scalar summary
    # (recoverable from the queries) instead of the attribution data.
    payload = {
        "metric": "headline_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Timing basis changed after round 5: the window now includes
        # DataFrame CONSTRUCTION (eager localCheckpoint prefixes, CC
        # iterations, driver-side index builds), which rounds <=5 left
        # untimed. Totals are therefore not comparable to BENCH_r05 and
        # earlier; the DuckDB oracle ratio (BASELINE) is the stable
        # cross-round gauge.
        "timing_basis": "construction+execution (since r6)",
    }
    if ann is not None:
        payload["ann_amortized"] = ann
    if ann10 is not None:
        payload["ann_amortized_10x"] = ann10
    if sketch_split is not None:
        payload["approx_sketches_split"] = sketch_split
    if branch_splits:
        payload["branch_splits"] = branch_splits
    payload["queries"] = timings
    # Stop the bench JVM BEFORE the fresh-JVM probe below: with both
    # alive the subprocess competed for the box (measured: 29s vs
    # 19-21s standalone at 1.3M rows), defeating the point.
    spark.stop()
    # Canonical IVF build numbers from a FRESH JVM (r12 verdict item 4):
    # the in-session build wall moved 2.5-3x with leftover session
    # memory pressure while probe/brute stayed stable, so the recorded
    # amortization horizon depended on which session measured it. A
    # subprocess probe re-times ONLY train+build per corpus size; the
    # lifecycle dicts keep their in-session numbers under explicit
    # labels and the IVF horizon recomputes from the canonical build.
    try:
        import subprocess

        sizes = [str(r["corpus_rows"]) for r in (ann, ann10) if r]
        if sizes:
            here = os.path.dirname(os.path.abspath(__file__))
            proc = subprocess.run(
                [sys.executable, "-m", "distributedqueryengine_spark.annbench",
                 sf_dir, *sizes],
                capture_output=True, text=True, timeout=1200, cwd=here,
            )
            fresh = json.loads(proc.stdout.strip().splitlines()[-1])
            for res in (ann, ann10):
                fb = fresh.get(str(res["corpus_rows"])) if res else None
                if not fb:
                    continue
                res["build_ivf_s_in_session"] = res["build_ivf_s"]
                res["train_ivf_s_in_session"] = res["train_ivf_s"]
                res["build_ivf_s"] = fb["build_ivf_s"]
                res["train_ivf_s"] = fb["train_ivf_s"]
                res["ivf_train_stats_fresh_jvm"] = fb["ivf_train_stats"]
                res["build_ivf_runs_fresh_s"] = fb.get("build_runs_s")
                res["build_basis"] = "ivf build fresh-JVM canonical; probes/brute in-session"
                saving = res["bruteforce_batch_s"] - res["probe_ivf_batch_s"]
                res["batches_to_amortize_ivf"] = (
                    round(res["build_ivf_s"] / saving, 1) if saving > 0 else None
                )
    except Exception:
        pass
    # Belt and braces: the full payload also lands in a repo file, so
    # even a truncated stdout capture leaves the complete record.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_local.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except OSError:
        pass
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
