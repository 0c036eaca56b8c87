"""End-to-end training-corpus curation: the production stage order as
ONE library function.

Every stage exists (and is probed) individually — this module is the
composition a data team actually runs between "raw crawl" and
"training manifest", in the canonical order:

    quality/lang filter → exact dedup → staged near-dup collapse →
    ExactSubstr strip → benchmark decontamination → quality-classifier
    filter → temperature mixture → pack → training order

Extends the reference's scan→σ→π→⋈ algebra (RPC.cs:311-375) the way
its fragment catalog composes fragments (QueryService.asmx.cs:310-427)
— except the stages here are corpus operators, not table fragments.

Design rules the composition enforces (each learned from a probe):

- **Row accounting is part of the output.** Each stage reports
  (rows_in, rows_out); silent attrition is how pipelines lose 30% of
  a corpus to a mis-tuned threshold without anyone noticing. The
  accounting is returned, not logged.
- **Stage outputs are lazily checkpointed** (r17; eager through r16,
  lazy FIFO persists through r15): every stage references its input
  several times, so keeping lineage grew the composed plan
  exponentially and each tail operation re-paid the analyzer over it
  — checkpointing truncates the plan at every boundary while the
  blocks still release via the ContextCleaner once the stage frame
  leaves the manifest's lineage (no nine stacked corpus-sized caches,
  the r12 lesson). `eager=False` keeps the truncation but folds each
  stage's materialization into its first consumer job — with
  accounting off, constructing the whole manifest runs ZERO jobs.
  Under `SPARK_GRAFT_ON_CLUSTER` with a configured checkpoint dir the
  stages checkpoint RELIABLY to cluster storage (executor loss no
  longer loses the truncated lineage).
- **Text shrinks as early as possible.** After the ExactSubstr strip
  the pipeline carries `clean_text`; decontamination and classifier
  scoring run on the stripped text (what training would actually
  consume).
- **Every heavy stage keeps its own scale shape**: the near-dup spine
  runs UNSTAGED here (stage 2 already exact-deduped — the staged
  pre-collapse would find nothing), broadcast eval grams, driver-held
  classifier model, two-phase pack prefix sum, ONE combined-epoch
  rank pass (r15) — the composition adds no new shuffle beyond its
  stages.

Measured 1×/10×/100× (frozen in SCALE_PROBE_PIPELINE_r14.json); see
SCALING.md §curation-pipeline.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = ["curate_corpus"]


def _fused_manifest(
    cur: DataFrame,
    tokens,
    seq_len: int,
    n_epochs: int,
    seed: int,
    rows_per_bucket: int = 65536,
) -> DataFrame:
    """Stages 8+9 fused (r16): pack layout and epoch rank from ONE
    persisted survivors frame, ZERO joins in the manifest.

    `concat_pack_layout` and `training_order` both scan the identical
    survivor set and both are two-phase rank shapes; composed via
    joins they cost two extra persisted projections, three stats
    collects and three shuffle joins (order ⋈ pack ⋈ grp). Here:

    - ONE persisted (id, grp, t) projection (the only per-document
      work — the token count — runs once);
    - ONE stats job (count/min/max of id) sizing the pack buckets;
    - ONE combined aggregate job producing BOTH driver tables: the
      per-id-bucket token totals (pack prefix) keyed kind=-1 and the
      per-(epoch, hash-bucket) row counts (rank prefix) keyed
      kind=epoch — a union of two tiny keyed projections of the same
      cached frame, so the corpus is scanned once, not twice;
    - the manifest itself is one plan: exchange by id-bucket → window
      cumsum (token offsets) → epoch explode → exchange by
      (epoch, hash-bucket) → window rank — no join anywhere, both
      driver tables ride in as broadcast maps.

    Bit-identical to the unfused composition (pinned by the
    differential in tests/test_pipeline_e2e.py): pack bucketing
    replicates packing._prefix_sum (fixed-width id ranges off the
    same stats), the rank replicates training_order's shuffled-epoch
    path (same nb, same __b, same (u, id) order, same md5 u).
    """
    from distributedqueryengine_spark.functions.sampling import _uniform01
    from distributedqueryengine_spark.session import ensure_parallelism

    # LAZY localCheckpoint (r17; eager through r16): lineage still
    # truncates at construction (the returned frame is an RDD-scan
    # leaf, so the tail's analyzer passes stay O(1)), but the blocks
    # materialize inside the FIRST consumer job instead of a serial
    # construction-time job of their own — and with the stats/totals
    # collects below also gone lazy, merely CONSTRUCTING the manifest
    # runs zero jobs.
    surv = ensure_parallelism(cur).select(
        "id", "grp", tokens.cast("long").alias("t")
    ).localCheckpoint(eager=False)
    # r17: the corpus stats ride a bounded 1-row broadcast cross and
    # both driver prefix tables become bounded in-plan windows — the
    # pack bases over the ~G-row bucket totals, the rank bases over
    # the ≤n_epochs·nb epoch-bucket counts (offsets/positions are
    # invariant to where bucket boundaries land, so in-plan width
    # arithmetic only has to be deterministic).
    stats = surv.agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("id").alias("__lo"),
        F.max("id").alias("__hi"),
    )
    nbk = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(float(rows_per_bucket)))
    )
    width = F.greatest(
        F.lit(1),
        F.ceil((F.col("__hi") - F.col("__lo") + 1) / nbk.cast("double")),
    )
    sb = (
        surv.crossJoin(F.broadcast(stats))
        .withColumn(
            "__bkt", ((F.col("id") - F.col("__lo")) / width).cast("long")
        )
        .drop("__n", "__lo", "__hi")
    )
    nb = max(8, min(1024, 65536 // n_epochs))
    us = [
        _uniform01(F.col("id").cast("string"), seed=seed * 1_000_003 + e)
        for e in range(n_epochs)
    ]
    ebs = [
        F.least(F.floor(u * nb), F.lit(nb - 1)).cast("long") for u in us
    ]
    w_pb = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pack_bases = (
        sb.groupBy("__bkt")
        .agg(F.sum("t").alias("__tot"))
        .select(
            "__bkt",
            F.coalesce(F.sum("__tot").over(w_pb), F.lit(0))
            .cast("long").alias("__pb"),
        )
    )
    ecounts = surv.select(
        F.lit(0).cast("long").alias("epoch"), ebs[0].alias("__b")
    )
    for e in range(1, n_epochs):
        ecounts = ecounts.unionAll(
            surv.select(
                F.lit(e).cast("long").alias("epoch"), ebs[e].alias("__b")
            )
        )
    w_eb = (
        Window.partitionBy("epoch")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rank_bases = (
        ecounts.groupBy("epoch", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(
            "epoch", "__b",
            F.coalesce(F.sum("__c").over(w_eb), F.lit(0))
            .cast("long").alias("__eb"),
        )
    )
    w_off = Window.partitionBy("__bkt").orderBy("id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    laid = (
        sb.join(F.broadcast(pack_bases), "__bkt")
        .withColumn(
            "off", F.col("__pb") + F.coalesce(F.sum("t").over(w_off), F.lit(0))
        )
    )
    ep = (
        laid.select(
            "id",
            "grp",
            "t",
            "off",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(e).cast("long").alias("epoch"),
                            us[e].alias("__u"),
                        )
                        for e in range(n_epochs)
                    ]
                )
            ).alias("__e"),
        )
        .select("id", "grp", "t", "off", "__e.epoch", "__e.__u")
        .withColumn(
            "__b",
            F.least(F.floor(F.col("__u") * nb), F.lit(nb - 1)).cast("long"),
        )
        .join(F.broadcast(rank_bases), ["epoch", "__b"])
    )
    w_rank = Window.partitionBy("epoch", "__b").orderBy(
        F.col("__u").asc(), F.col("id").asc()
    )
    seq_first = F.floor(F.col("off") / seq_len)
    seq_last = F.floor(
        (F.col("off") + F.greatest(F.col("t"), F.lit(1)) - 1) / seq_len
    )
    return ep.select(
        "epoch",
        (F.col("__eb") + F.row_number().over(w_rank) - 1).alias("pos"),
        "id",
        "grp",
        F.col("t").alias("n_tokens"),
        F.col("off").alias("tok_offset"),
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        (seq_last - seq_first + 1).alias("n_seqs"),
    )


def _stage(
    acc: list | None, name: str, rows_in: int, df: DataFrame
) -> tuple[DataFrame, int]:
    """Checkpoint a stage output and TRUNCATE its lineage (r16). Each
    stage references its input 2-3 times (dedup window + semi-join,
    strip join, decontam anti-join), so a lazy persist — which keeps
    the full logical plan — grew the composed tree exponentially: by
    stage 5 the driver row planned a 5,600-line / 613-Exchange tree,
    and because PySpark analyzes every new Dataset eagerly, EACH tail
    operation re-paid the analyzer over that whole tree (measured 1.4s
    to merely CONSTRUCT the decontam stage at sf0.1, zero execution).
    Checkpointing caps every stage's plan at O(stage) depth (guide
    §3.3/§5: materialize to truncate very large plans).

    LAZY since r17 (eager in r16): `eager=False` truncates the plan
    just the same (the returned frame is an RDD-scan leaf) but the
    blocks materialize inside the first CONSUMER job — with
    accounting off, stage boundaries no longer pay a serial
    construction-time job each (r16 ADVICE: this also restores the
    'acc=None keeps the chain lazy' contract). With accounting on,
    the count() right after is that first consumer.

    Fault tolerance (r16 VERDICT item): localCheckpoint blocks live
    only on executors — fine locally and for the bench contract, but
    at cluster scale a lost executor makes the truncated lineage
    unrecoverable. When `SPARK_GRAFT_ON_CLUSTER` is set AND the
    session has a checkpoint dir configured, stages use RELIABLE
    checkpoint() to cluster storage instead (same semantics, blocks
    on the checkpoint dir); without a checkpoint dir the contract is
    retry-from-start, documented in SCALING.md §curation-pipeline."""
    reliable = False
    if os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        try:  # Spark Connect has no SparkContext on the client
            reliable = (
                df.sparkSession.sparkContext.getCheckpointDir() is not None
            )
        except Exception:
            reliable = False
    out = df.checkpoint(eager=False) if reliable else df.localCheckpoint(
        eager=False
    )
    if acc is None:
        return out, -1
    n = out.count()
    acc.append({"stage": name, "rows_in": int(rows_in), "rows_out": int(n)})
    return out, n


def curate_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    labeled: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_quality: float = 0.5,
    lang: str | None = "en",
    near_dup_jaccard: float = 0.5,
    substr_k: int = 8,
    decontam_n: int = 5,
    stop_grams: DataFrame | None = None,
    clf_threshold: float = 0.5,
    clf_buckets: int = 1024,
    clf_iters: int = 12,
    temperature: float = 0.7,
    group_budgets: dict | None = None,
    seq_len: int = 512,
    n_epochs: int = 1,
    seed: int = 0,
    portable: bool = False,
    account: bool = True,
) -> tuple[DataFrame, list[dict]]:
    """Run the full curation pipeline over `docs`; return
    (training manifest, per-stage row accounting).

    The manifest has one row per (epoch, surviving doc):
    (epoch, pos, doc_id, group, n_tokens, tok_offset, seq_first,
    seq_last, n_seqs) — pos is the epoch's deterministic shuffle
    position (one combined two-phase rank across ALL epochs, no
    single-partition window), offsets are the concat-pack layout over
    doc_id order.

    Optional stages skip cleanly: no `eval_df` → no decontamination
    row; no `labeled` seed → no classifier row. `stop_grams` (r15)
    passes a reviewed boilerplate list through to the decontamination
    stage (decontam.frequent_grams mines candidates,
    contamination_report adjudicates them). With `group_budgets`
    (a {group: token budget} dict), stage 7 becomes per-group
    maximal-prefix budget selection by quality
    (sampling.select_until_budget_grouped — the multilingual budget
    form) instead of the temperature mixture. The accounting list
    has one dict per EXECUTED stage: {stage, rows_in, rows_out} —
    `rows_in` of each stage equals `rows_out` of the previous, so the
    composition is reconcilable against running the stages by hand
    (pinned in tests/test_pipeline_e2e.py).

    `account=False` skips the per-stage row counts (the accounting
    list returns empty): each count is a serial synchronization job,
    and a latency-sensitive caller that only needs the manifest (the
    driver-oracled `pipeline_curate` row, a scheduled production run
    whose accounting comes from the sink's own row counts) saves ~9
    round-trips. Stage persists remain — they are correctness-neutral
    and still serve the multi-consumer tail.

    `portable=True` switches the near-dup and ExactSubstr hash spines
    to the md5-based engine-portable mode (slower than xxhash64, but
    bit-identical in DuckDB) — this is what lets the ENTIRE composed
    pipeline be driver-oracled end to end (the `pipeline_curate`
    inventory row mirrors every stage in one SQL chain).
    """
    from distributedqueryengine_spark.functions import text as T
    from distributedqueryengine_spark.functions.decontam import contaminated_ids
    from distributedqueryengine_spark.functions.dedup import (
        dedup_clusters,
        dedup_exact,
    )
    from distributedqueryengine_spark.functions.quality_clf import (
        fit_hashed_logreg,
        score_hashed_logreg,
    )
    from distributedqueryengine_spark.functions.sampling import (
        apply_temperature_mixture,
        select_until_budget_grouped,
    )
    from distributedqueryengine_spark.functions.substr_dedup import (
        strip_duplicated_spans,
    )

    acc: list[dict] | None = [] if account else None
    base = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.col(group_col).alias("grp"),
    )
    n0 = base.count() if account else -1

    # 1. quality / language heuristics — fused into the scan. With
    # accounting off this stage has exactly ONE consumer (stage 2's
    # persisted output), so the filter fuses into stage 2's
    # materialization instead of paying its own cache layer.
    pred = T.quality_score("text") >= min_quality
    if lang is not None:
        pred = pred & (T.lang_id("text") == lang)
    if account:
        cur, n = _stage(acc, "quality_filter", n0, base.filter(pred))
    else:
        cur, n = base.filter(pred), -1

    # 2. exact dedup (min-id survivor per content fingerprint)
    cur, n = _stage(acc, "exact_dedup", n, dedup_exact(cur, "id", "text"))

    # 3. near-dup collapse: staged MinHash-LSH pairs → connected
    # components → keep each cluster's representative (min id)
    # staged=False: stage 2 already removed exact duplicates, so the
    # staged pipeline's exact-collapse pre-stage (fingerprint groupBy
    # + canonical map-back, ~3 extra shuffles) would find nothing
    cc = dedup_clusters(cur, "id", "text", min_jaccard=near_dup_jaccard,
                        portable=portable, staged=False)
    losers = cc.filter(F.col("id") != F.col("component")).select("id")
    cur, n = _stage(acc, "near_dedup", n, cur.join(losers, "id", "left_anti"))

    # 4. ExactSubstr: strip duplicated passages, keep corpus-first —
    # rows survive (possibly shorter); training text is clean_text
    stripped = strip_duplicated_spans(cur, "id", "text", k=substr_k,
                                      portable=portable)
    cur, n = _stage(
        acc,
        "substr_strip",
        n,
        cur.drop("text").join(
            stripped.select("id", F.col("clean_text").alias("text")), "id"
        ),
    )

    # 5. benchmark decontamination (word n-gram overlap, broadcast
    # eval grams) — against the STRIPPED text, what training consumes
    if eval_df is not None:
        ev = eval_df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
        bad = contaminated_ids(cur, ev, "id", "text", n=decontam_n,
                               stop_grams=stop_grams)
        cur, n = _stage(acc, "decontam", n, cur.join(bad, "id", "left_anti"))

    # 6. model-in-the-loop quality filter: fit on the labeled seed,
    # score the survivors, keep by threshold
    if labeled is not None:
        lab = labeled.select(
            F.col(id_col).alias("id"), F.col("label").alias("label")
        ).join(cur.select("id", "text"), "id")
        model = fit_hashed_logreg(
            lab, "id", "text", "label",
            num_buckets=clf_buckets, iters=clf_iters, tol=1e-6,
        )
        scores = score_hashed_logreg(cur, "id", "text", model)
        cur, n = _stage(
            acc,
            "clf_filter",
            n,
            cur.join(
                scores.filter(F.col("score") >= clf_threshold).select("id"),
                "id",
                "left_semi",
            ),
        )

    # 7. corpus sizing: per-group token budgets (quality-ordered
    # maximal prefix) when given, else the temperature mixture
    if group_budgets is not None:
        scored7 = cur.select(
            "id", "grp",
            T.quality_score("text").alias("__q"),
            T.token_count("text").cast("long").alias("__nt"),
        )
        picked = select_until_budget_grouped(
            scored7, group_budgets, group_col="grp", id_col="id",
            weight_col="__nt", score_col="__q",
        ).select("id")
        cur, n = _stage(
            acc, "budget_select", n, cur.join(picked, "id", "left_semi")
        )
    else:
        # fused form (r15): one (group, bucket) aggregate carries both
        # the rate computation and the quota ranking — identical rows
        # to temperature_mixture_rates ∘ apply_mixture_rates (pinned);
        # quotas and prefixes ride the manifest plan, bounded by the
        # mixture's in-plan group-count guard
        mixed = apply_temperature_mixture(
            cur, "grp", "id", temperature=temperature, seed=seed,
        )
        if account:
            cur, n = _stage(acc, "mixture", n, mixed)
        else:
            # single consumer downstream (the fused tail's survivors
            # projection, which persists itself) — skip the cache layer
            cur, n = mixed, -1

    # 8+9. pack layout + per-epoch training order, FUSED (r16): one
    # persisted survivors projection, one combined bucket-totals
    # aggregate, zero joins — see _fused_manifest. Replaces
    # concat_pack_layout ∘ training_order ∘ (order ⋈ pack ⋈ grp),
    # bit-identically (differential-pinned in tests/test_pipeline_e2e).
    manifest = _fused_manifest(
        cur, T.token_count("text"), seq_len, n_epochs, seed
    ).select(
        "epoch",
        "pos",
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        "n_tokens",
        "tok_offset",
        "seq_first",
        "seq_last",
        "n_seqs",
    )
    if acc is not None:
        acc.append(
            {"stage": "manifest", "rows_in": int(n),
             "rows_out": int(n) * n_epochs}
        )
    return manifest, acc if acc is not None else []
