"""Scale probe for the round-10 additions: Bloom-prefiltered semi join
(vs plain semi join — the shuffle-reduction claim), SemDeDup semantic
dedup (n_clusters ∝ n keeps cell size constant → ~linear), and
zone-map skipping (pruned-read wall stays ~flat while the full-scan
filter grows with the data).

Same method as tools/scale_probe_r10.py: key-shifted replication, UI
REST shuffle deltas, min-of-2 with clearCache. Prints a markdown table
for SCALING.md.

Usage: python tools/scale_probe_r10b.py [N]   (default 10)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

os.environ.setdefault("SPARK_GRAFT_UI", "true")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from distributedqueryengine_spark.session import get_spark, load_table  # noqa: E402
from tools.scale_probe_pipelines import (  # noqa: E402
    build_scaled_dir,
    force,
    replicate,
    shuffle_write_bytes,
)


def _events(spark, d):
    return load_table(spark, d, "events").select("event_id", "user_id")


def _li(spark, d):
    return load_table(spark, d, "lineitem").select("l_orderkey", "l_partkey")


def probes(n: int, zm_dirs: dict[str, str]):
    from distributedqueryengine_spark.functions.bloom import (
        bloom_prefilter_semi_join,
    )
    from distributedqueryengine_spark.functions.semdedup import semantic_dedup
    from distributedqueryengine_spark.sources.zonemap import (
        prune_files,
        read_with_skipping,
    )

    def _dim(fact):
        # ~2.7% of fact keys: the selective dim of a runtime-filter
        # scenario. Probes run with autoBroadcastJoinThreshold=-1 (see
        # CONFS) to emulate a dim too big to broadcast raw — the 100 TB
        # case where the bloom word table still broadcasts but the raw
        # key set cannot.
        return fact.select(F.col("l_partkey").alias("k")).where(
            F.col("k") % 37 == 0
        ).dropDuplicates(["k"])

    def p_semi_plain(spark, d):
        fact = _li(spark, d)
        return fact.join(_dim(fact), fact["l_partkey"] == F.col("k"), "left_semi")

    def p_semi_bloom(spark, d):
        fact = _li(spark, d)
        return bloom_prefilter_semi_join(
            fact, _dim(fact), "l_partkey", "k",
            n_items_hint=2_000, target_fpr=0.01,
        )

    def p_semdedup(spark, d):
        emb = load_table(spark, d, "embeddings")
        big = d != "/root/testdata/sf0.1"
        return semantic_dedup(
            emb, n_clusters=16 * (n if big else 1), threshold=0.35,
            n_iter=4, n_sample=1024 * (n if big else 1),
            max_cell_rows=100_000,
        )

    def p_zonemap_read(spark, d):
        path = zm_dirs[d]
        kept = prune_files(spark, path, [("k", "between", (1000, 1999))])
        df = read_with_skipping(spark, path, [("k", "between", (1000, 1999))])
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.lit(len(kept)).alias("files_kept")
        )

    def p_fullscan_read(spark, d):
        path = zm_dirs[d]
        return (
            spark.read.parquet(path)
            .where(F.col("k").between(1000, 1999))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return {
        "semi_join_plain": p_semi_plain,
        "semi_join_bloom": p_semi_bloom,
        "semantic_dedup": p_semdedup,
        "zonemap_skip_read": p_zonemap_read,
        "fullscan_filter_read": p_fullscan_read,
    }


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("scale-probe-r10b")
    assert spark.sparkContext.uiWebUrl, "needs SPARK_GRAFT_UI=true (fresh JVM)"
    sf_dir = "/root/testdata/sf0.1"
    scaled = build_scaled_dir(spark, n)
    # build_scaled_dir byte-copies tables outside its REPLICATED set at
    # 1x — overwrite the ones this probe scales, unconditionally
    for t, key in (
        ("events", "user_id"),
        ("embeddings", "vec_id"),
        ("lineitem", "l_orderkey"),
    ):
        out = os.path.join(scaled, f"{t}.parquet")
        replicate(load_table(spark, sf_dir, t), n, key).write.mode(
            "overwrite"
        ).parquet(out)

    # zone-map datasets: range-clustered layout on k, file count ∝ data
    zm_dirs = {}
    for label, d, files in ((sf_dir, sf_dir, 32), (scaled, scaled, 32 * n)):
        zdir = f"/tmp/zm_probe_{files}"
        zm_dirs[d] = zdir
        if os.path.exists(zdir):
            shutil.rmtree(zdir)
        ev = _events(spark, d).select(
            F.col("event_id").alias("k"), F.col("user_id").alias("v")
        )
        ev.repartitionByRange(files, "k").write.parquet(zdir)
        from distributedqueryengine_spark.sources.zonemap import write_zonemap

        t0 = time.monotonic()
        write_zonemap(spark, zdir, ["k"])
        print(f"write_zonemap {files} files: {time.monotonic() - t0:.2f}s",
              flush=True)

    # emulate a non-broadcastable dim for the semi-join pair: the
    # comparison is fact-shuffle of a shuffled semi join vs the
    # bloom-passed fraction (the bloom word table broadcasts via an
    # explicit hint, which -1 does not disable)
    confs = {
        "semi_join_plain": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
        "semi_join_bloom": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    }
    default_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    results = {}
    for name, fn in probes(n, zm_dirs).items():
        results[name] = {}
        for key, val in confs.get(name, {}).items():
            spark.conf.set(key, val)
        for label, d in (("1x", sf_dir), (f"{n}x", scaled)):
            runs, shuf = [], []
            for _ in range(2):
                spark.catalog.clearCache()
                s0 = shuffle_write_bytes(spark)
                t0 = time.monotonic()
                force(fn(spark, d))
                runs.append(time.monotonic() - t0)
                shuf.append(shuffle_write_bytes(spark) - s0)
            best = min(range(2), key=lambda i: runs[i])
            results[name][label] = {
                "wall_s": round(runs[best], 2),
                "shuffle_mb": round(shuf[best] / 1e6, 1),
            }
            print(f"{name} @{label}: {results[name][label]}", flush=True)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", default_bcast)

    print(f"\n| operator | wall 1x | wall {n}x | growth | shuffle 1x | shuffle {n}x | growth |")
    print("|---|---|---|---|---|---|---|")
    for name, r in results.items():
        a, b = r["1x"], r[f"{n}x"]
        wg = b["wall_s"] / max(a["wall_s"], 1e-9)
        sg = (
            b["shuffle_mb"] / max(a["shuffle_mb"], 1e-9)
            if a["shuffle_mb"]
            else float("nan")
        )
        print(
            f"| {name} | {a['wall_s']} s | {b['wall_s']} s | {wg:.1f}x "
            f"| {a['shuffle_mb']} MB | {b['shuffle_mb']} MB | {sg:.1f}x |"
        )


if __name__ == "__main__":
    main()
