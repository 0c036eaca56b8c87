"""Full training-data pipeline integration: every tier chained the way
a production run chains them — quality/lang clean → exact dedup →
near-dup cluster collapse → benchmark decontamination → greedy packing
→ partitioned write → read-back. Three adversarial rows are planted
(an exact duplicate, a near duplicate, an eval-contaminated document)
and each must be removed by EXACTLY its tier, while the pipeline's
invariants (no duplicate fingerprints, bins within budget, read-back
equality) hold on what survives. Complements the per-operator tests:
this is the composition a user of the reference engine would actually
run end-to-end.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from distributedqueryengine_spark.functions import decontam as DC
from distributedqueryengine_spark.functions import dedup as D
from distributedqueryengine_spark.functions import packing
from distributedqueryengine_spark.functions import text as T
from distributedqueryengine_spark.session import load_table
from distributedqueryengine_spark.sources.sinks import write_files

SF_DIR = "/root/testdata/sf0.001"

EXACT_DUP_ID = 900_001
NEAR_DUP_ID = 900_002
CONTAM_ID = 900_003
SPAM_ID = 900_004
BULLET_ID = 900_005


def test_full_training_pipeline_e2e(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    eval_df = docs.filter(F.col("doc_id") % 97 == 0)
    base = docs.filter(F.col("doc_id") % 97 != 0)

    # --- plant the three adversaries, derived from documents that pass
    # the cleaning filters so each one reaches the tier that must kill it
    clean_pred = (T.quality_score("text") >= 0.5) & (T.lang_id("text") == "en")
    donors = (
        base.filter(clean_pred)
        .orderBy("doc_id")
        .select("doc_id", "text", "lang", "source")
        .limit(2)
        .collect()
    )
    ev_donor = eval_df.orderBy("doc_id").select("text").first()
    assert len(donors) == 2 and ev_donor is not None, "fixture too sparse"
    near_toks = donors[1].text.split()
    near_toks[len(near_toks) // 2] = "zzzaltered"
    ev_toks = ev_donor.text.split()
    planted = spark.createDataFrame(
        [
            # byte-identical content → exact-dedup tier
            (EXACT_DUP_ID, donors[0].text, donors[0].lang, donors[0].source),
            # one swapped token → near-dup tier (Jaccard ≫ 0.5)
            (NEAR_DUP_ID, " ".join(near_toks), donors[1].lang, donors[1].source),
            # a verbatim eval 3-gram inside donor text → decontam tier
            (
                CONTAM_ID,
                donors[0].text + " " + " ".join(ev_toks[:3]),
                donors[0].lang,
                donors[0].source,
            ),
            # donor prefix looped 20× → repetition-ratio tier (keeps the
            # language/quality profile, maximizes repeated 3-grams)
            (
                SPAM_ID,
                " ".join(donors[1].text.split()[:6] * 20),
                donors[1].lang,
                donors[1].source,
            ),
            # every line a bullet → Gopher structural tier (r7):
            # stopword-rich and 3-gram-distinct, so it sails through
            # quality/lang/repetition and dies ONLY at bullet_lines_ok
            (
                BULLET_ID,
                "\n".join(
                    f"- the item {i} entry {w}"
                    for i, w in enumerate(donors[0].text.split()[:60])
                ),
                donors[0].lang,
                donors[0].source,
            ),
        ],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("long"))
    corpus = base.unionByName(planted.select(*base.columns))

    # --- tier 1: quality/language cleaning (scan-fused predicates)
    cleaned_ql = corpus.filter(clean_pred)
    kept_ql = {r.doc_id for r in cleaned_ql.select("doc_id").collect()}
    assert {EXACT_DUP_ID, NEAR_DUP_ID, CONTAM_ID, SPAM_ID, BULLET_ID} <= kept_ql, (
        "planted rows must survive quality/lang cleaning to reach their tiers"
    )
    # --- tier 1b: repetition filter (Gopher-style) kills ONLY the spam
    cleaned_rep = cleaned_ql.filter(T.repetition_ratio("text") < 0.7)
    kept_rep = {r.doc_id for r in cleaned_rep.select("doc_id").collect()}
    assert SPAM_ID not in kept_rep, "looped spam must fail the repetition bar"
    assert {EXACT_DUP_ID, NEAR_DUP_ID, CONTAM_ID, BULLET_ID} <= kept_rep
    # --- tier 1c: Gopher structural rules (r7) — the corpus-appropriate
    # subset (bullet/symbol rules; word-count rules would cut short but
    # legitimate synthetic docs) kills ONLY the all-bullets page
    g = T.gopher_quality_flags("text")
    cleaned = cleaned_rep.filter(g["bullet_lines_ok"] & g["symbol_ratio_ok"])
    kept_ids = {r.doc_id for r in cleaned.select("doc_id").collect()}
    assert BULLET_ID not in kept_ids, "bullet page must fail the Gopher tier"
    assert {EXACT_DUP_ID, NEAR_DUP_ID, CONTAM_ID} <= kept_ids
    assert kept_ids == kept_rep - {BULLET_ID}, "Gopher tier killed a bystander"

    # --- tier 2: exact dedup (min-id survivor per content fingerprint)
    exact = D.dedup_exact(cleaned, "doc_id", "text")
    exact_ids = {r.doc_id for r in exact.select("doc_id").collect()}
    assert EXACT_DUP_ID not in exact_ids, "exact duplicate must be dropped"
    assert donors[0].doc_id in exact_ids, "the min-id original must survive"
    assert NEAR_DUP_ID in exact_ids, "near duplicate is not byte-identical"

    # --- tier 3: near-dup collapse (MinHash-LSH pairs → components →
    # keep each component's min-id representative)
    pairs = D.minhash_near_duplicates(exact, "doc_id", "text", min_jaccard=0.5)
    planted_pair = pairs.filter(
        (F.col("id_a") == donors[1].doc_id) & (F.col("id_b") == NEAR_DUP_ID)
    )
    assert planted_pair.count() == 1, "LSH must surface the planted near-dup pair"
    cc = D.connected_components(pairs)
    non_reps = cc.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    deduped = exact.join(non_reps, "doc_id", "left_anti")
    dd_ids = {r.doc_id for r in deduped.select("doc_id").collect()}
    assert NEAR_DUP_ID not in dd_ids, "near duplicate must be collapsed"

    # --- tier 4: decontamination against the held-out eval set (n=3 —
    # the synthetic corpus has almost no 5-gram collisions)
    final = DC.decontaminate(deduped, eval_df, "doc_id", "text", n=3)
    final_ids = {r.doc_id for r in final.select("doc_id").collect()}
    assert CONTAM_ID not in final_ids, "contaminated doc must be dropped"
    assert final_ids, "pipeline must not drop everything"
    # each tier killed ONLY its target among the planted rows
    assert final_ids <= dd_ids <= exact_ids <= kept_ids

    # no two survivors share a content fingerprint
    n_fp = final.select(T.fingerprint("text").alias("fp")).distinct().count()
    assert n_fp == len(final_ids)

    # --- tier 5: greedy packing (no-split FFD, budget invariant)
    packed = packing.greedy_pack(
        final, tokens=T.token_count("text"), budget=512, n_groups=8
    )
    rows = packed.collect()
    assert {r.doc_id for r in rows} == final_ids, "packing must cover every survivor"
    bins: dict[tuple, int] = {}
    for r in rows:
        bins[(r.grp, r.bin)] = bins.get((r.grp, r.bin), 0) + r.n_tokens
    for (grp, b), tot in bins.items():
        docs_in_bin = [r for r in rows if (r.grp, r.bin) == (grp, b)]
        assert tot <= 512 or len(docs_in_bin) == 1, (
            f"bin ({grp},{b}) over budget with {len(docs_in_bin)} docs"
        )

    # --- tier 6: partitioned write + read-back equality
    out = str(tmp_path / "final_corpus")
    write_files(final, out, partition_by=["lang"])
    back = spark.read.parquet(out)
    assert {r.doc_id for r in back.select("doc_id").collect()} == final_ids

    # --- tier 7 (r7): quality-weighted training draw — deterministic
    # Efraimidis–Spirakis sample of the survivors, weight = quality
    from distributedqueryengine_spark.functions.sampling import (
        weighted_sample_n,
    )

    weighted = final.withColumn("__w", T.quality_score("text"))
    n_draw = min(25, len(final_ids))
    s1 = {r.doc_id for r in weighted_sample_n(weighted, "__w", n_draw, ["doc_id"]).collect()}
    s2 = {r.doc_id for r in weighted_sample_n(weighted, "__w", n_draw, ["doc_id"]).collect()}
    assert s1 == s2 and len(s1) == n_draw and s1 <= final_ids


def test_operators_handle_empty_inputs(spark, tables):
    """Every pipeline tier must degrade cleanly on an empty input —
    0 rows out, schema intact, no crash (the subtle failure mode is an
    operator that works on data but throws on the empty frame a
    filter-heavy upstream can legitimately produce)."""
    docs = tables["documents"]
    empty = docs.filter(F.lit(False))

    assert D.dedup_exact(empty, "doc_id", "text").count() == 0
    pairs = D.minhash_near_duplicates(empty, "doc_id", "text")
    assert pairs.count() == 0
    cc = D.connected_components(pairs)
    assert cc.count() == 0
    assert set(cc.columns) == {"id", "component"}
    assert DC.decontaminate(empty, docs.limit(3), "doc_id", "text", n=3).count() == 0
    # decontam with an EMPTY eval set keeps the whole corpus
    kept = DC.decontaminate(docs.limit(7), empty, "doc_id", "text", n=3)
    assert kept.count() == 7
    packed = packing.greedy_pack(empty, tokens=T.token_count("text"), budget=64)
    assert packed.count() == 0
    assert set(packed.columns) == {"doc_id", "n_tokens", "grp", "bin"}
    from distributedqueryengine_spark.functions.text import (
        remove_boilerplate_lines,
    )

    assert remove_boilerplate_lines(empty, "doc_id", "text").count() == 0


def test_curate_corpus_accounting_reconciles(spark):
    """r14: the ONE-function composition (pipeline.curate_corpus) must
    produce per-stage row accounting that reconciles exactly with
    running the stages by hand in the same order with the same
    parameters — the composition adds plumbing, never rows — and the
    manifest must be internally consistent (epochs × survivors rows,
    each epoch a 0..n-1 permutation, pack offsets contiguous)."""
    from distributedqueryengine_spark.functions import decontam as DCF
    from distributedqueryengine_spark.functions import dedup as DD
    from distributedqueryengine_spark.functions.substr_dedup import (
        strip_duplicated_spans,
    )
    from distributedqueryengine_spark.pipeline import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0).limit(20)
    manifest, acc = curate_corpus(
        docs, eval_df=ev, n_epochs=2, temperature=0.7, seed=3
    )
    by = {a["stage"]: a for a in acc}
    assert list(by) == [
        "quality_filter", "exact_dedup", "near_dedup", "substr_strip",
        "decontam", "mixture", "manifest",
    ]
    # chain consistency: each stage consumes exactly what the previous
    # stage produced
    stages = list(by.values())
    for prev, nxt in zip(stages, stages[1:]):
        assert nxt["rows_in"] == prev["rows_out"], (prev, nxt)

    # by-hand per-stage replication (same params, same order)
    base = docs.select(
        F.col("doc_id").alias("id"), "text", F.col("source").alias("grp")
    )
    q = base.filter(
        (T.quality_score("text") >= 0.5) & (T.lang_id("text") == "en")
    )
    assert by["quality_filter"]["rows_in"] == docs.count()
    assert by["quality_filter"]["rows_out"] == q.count()
    e = DD.dedup_exact(q, "id", "text")
    assert by["exact_dedup"]["rows_out"] == e.count()
    cc = DD.dedup_clusters(e, "id", "text", min_jaccard=0.5)
    losers = cc.filter(F.col("id") != F.col("component")).select("id")
    nd = e.join(losers, "id", "left_anti")
    assert by["near_dedup"]["rows_out"] == nd.count()
    st = nd.drop("text").join(
        strip_duplicated_spans(nd, "id", "text", k=8)
        .select("id", F.col("clean_text").alias("text")),
        "id",
    )
    assert by["substr_strip"]["rows_out"] == st.count()
    bad = DCF.contaminated_ids(
        st, ev.select(F.col("doc_id").alias("id"), "text"), "id", "text", n=5
    )
    dc = st.join(bad, "id", "left_anti")
    assert by["decontam"]["rows_out"] == dc.count()

    # manifest invariants
    n_final = by["mixture"]["rows_out"]
    assert by["manifest"]["rows_out"] == 2 * n_final
    assert manifest.count() == 2 * n_final
    for ep in (0, 1):
        pos = sorted(
            r["pos"] for r in manifest.filter(F.col("epoch") == ep).collect()
        )
        assert pos == list(range(n_final)), f"epoch {ep} not a permutation"
    # pack layout: offsets are the exclusive prefix of n_tokens in
    # doc_id order (epoch-independent)
    rows = (
        manifest.filter(F.col("epoch") == 0)
        .select("doc_id", "n_tokens", "tok_offset")
        .orderBy("doc_id")
        .collect()
    )
    off = 0
    for r in rows:
        assert r["tok_offset"] == off, r
        off += r["n_tokens"]


def test_curate_corpus_with_group_budgets(spark):
    """r14: group_budgets swaps stage 7 for per-group maximal-prefix
    budget selection — the budget_select accounting row appears, the
    per-group token totals respect the budgets, and unbudgeted groups
    vanish."""
    from distributedqueryengine_spark.pipeline import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    budgets = {"src1": 2000, "src2": 800}
    manifest, acc = curate_corpus(
        docs, group_budgets=budgets, n_epochs=1, seed=5, lang=None,
        min_quality=0.0,
    )
    by = {a["stage"]: a for a in acc}
    assert "budget_select" in by and "mixture" not in by
    rows = manifest.collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], 0)
        by_src[r["source"]] += r["n_tokens"]
    assert set(by_src) <= set(budgets)
    # token totals are measured on the STRIPPED text the manifest
    # packs, which is what the budget scored — never above budget
    for g, tot in by_src.items():
        assert tot <= budgets[g], (g, tot)


def test_curate_account_false_manifest_identical(spark):
    """r15: account=False must change ONLY the accounting (empty list)
    — the manifest rows are identical to the account=True run, and the
    portable=True manifest equals the production-hash manifest when the
    corpus has no hash-boundary cases (same fixture both ways here)."""
    from distributedqueryengine_spark.pipeline import curate_corpus

    docs = load_table(spark, SF_DIR, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 97 != 0)
    kw = dict(eval_df=ev, temperature=0.5, n_epochs=2, seed=0,
              portable=True)
    m_on, acc_on = curate_corpus(base, **kw, account=True)
    m_off, acc_off = curate_corpus(base, **kw, account=False)
    assert acc_off == [] and len(acc_on) >= 6
    rows_on = {tuple(r) for r in m_on.collect()}
    rows_off = {tuple(r) for r in m_off.collect()}
    assert rows_on == rows_off and rows_on


def test_fused_manifest_equals_unfused_composition(spark):
    """r16: the fused pack+order tail (_fused_manifest — one survivors
    persist, one combined bucket-totals aggregate, zero joins) must be
    bit-identical to the unfused composition it replaced:
    training_order ⋈ concat_pack_layout ⋈ grp. Multi-epoch, and a
    bucket-boundary-exercising rows_per_bucket to force >1 pack bucket
    so the driver prefix actually stitches."""
    from distributedqueryengine_spark.functions.packing import (
        concat_pack_layout,
    )
    from distributedqueryengine_spark.functions.sampling import (
        training_order,
    )
    from distributedqueryengine_spark.pipeline import _fused_manifest

    docs = load_table(spark, SF_DIR, "documents")
    cur = docs.select(
        F.col("doc_id").alias("id"), "text", F.col("source").alias("grp")
    ).filter(F.col("id") % 3 != 0)

    for n_epochs, seed, rpb in [(1, 0, 65536), (3, 7, 16)]:
        fused = _fused_manifest(
            cur, T.token_count("text"), 512, n_epochs, seed,
            rows_per_bucket=rpb,
        )
        pack = concat_pack_layout(
            cur, T.token_count("text"), id_col="id", seq_len=512,
            rows_per_bucket=rpb,
        )
        order = training_order(cur, "id", n_epochs=n_epochs, seed=seed)
        ref = (
            order.join(pack, "id")
            .join(cur.select("id", "grp"), "id")
            .select(
                "epoch", "pos", "id", "grp", "n_tokens", "tok_offset",
                "seq_first", "seq_last", "n_seqs",
            )
        )
        got = {tuple(r) for r in fused.collect()}
        want = {tuple(r) for r in ref.collect()}
        assert got == want and got, (n_epochs, seed, rpb, len(got), len(want))

    # empty input keeps the native schema and yields zero rows
    empty = _fused_manifest(
        cur.limit(0), T.token_count("text"), 512, 2, 0
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "epoch", "pos", "id", "grp", "n_tokens", "tok_offset",
        "seq_first", "seq_last", "n_seqs",
    ]


def test_stage_reliable_checkpoint_on_cluster(spark, tmp_path, monkeypatch):
    """r17 (r16 VERDICT item 8): under SPARK_GRAFT_ON_CLUSTER with a
    configured checkpoint dir, _stage checkpoints RELIABLY to cluster
    storage (files appear under the dir; executor loss cannot strand
    the truncated lineage) — and the stage rows are identical to the
    local path's."""
    import os

    from distributedqueryengine_spark.pipeline import _stage

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    acc: list = []
    local_out, n_local = _stage(acc, "probe", -1, docs.filter(F.col("doc_id") % 2 == 0))

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_ON_CLUSTER", "1")
    # leaving the dir configured after the test is inert: the reliable
    # path only triggers under the env var, which monkeypatch restores
    spark.sparkContext.setCheckpointDir(ckdir)
    acc2: list = []
    rel_out, n_rel = _stage(acc2, "probe", -1, docs.filter(F.col("doc_id") % 2 == 0))
    assert n_rel == n_local
    assert {r.doc_id for r in rel_out.collect()} == {
        r.doc_id for r in local_out.collect()
    }
    # the reliable path actually wrote checkpoint files
    found = []
    for _root, _dirs, files in os.walk(ckdir):
        found.extend(files)
    assert found, "no reliable checkpoint files written"


def test_get_spark_cleans_reliable_checkpoints(spark):
    """The reliable checkpoint dirs _stage writes on a cluster are
    deleted once their RDD is garbage-collected."""
    from distributedqueryengine_spark.session import get_spark

    conf = get_spark().sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
