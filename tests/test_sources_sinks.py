"""Source/sink round-trips + layout-driven plan shape (SURVEY §2.2 rows 1-2)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from distributedqueryengine_spark.plans import plan_report
from distributedqueryengine_spark.sources import readers, sinks


def test_csv_json_orc_roundtrip(spark, tables, tmp_path):
    nation = tables["nation"]
    base = str(tmp_path)
    sinks.write_files(nation, base + "/n_csv", fmt="csv", header=True)
    sinks.write_files(nation, base + "/n_json", fmt="json")
    sinks.write_files(nation, base + "/n_orc", fmt="orc")
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    got_csv = readers.read_csv(spark, base + "/n_csv", schema=schema)
    got_json = readers.read_json(spark, base + "/n_json", schema=schema)
    got_orc = readers.read_orc(spark, base + "/n_orc")
    expect = {tuple(r) for r in nation.collect()}
    for got in (got_csv, got_json, got_orc):
        assert {tuple(r) for r in got.collect()} == expect


def test_partitioned_write_prunes(spark, tables, tmp_path):
    """Dir-partitioned layout → PartitionFilters (not just PushedFilters)
    on read: the scan never opens non-matching directories."""
    out = str(tmp_path / "li_part")
    sinks.write_files(tables["lineitem"], out, partition_by=["l_returnflag"])
    got = readers.read_parquet(spark, out).filter(F.col("l_returnflag") == "R")
    phys = plan_report(got)["physical"]
    assert "PartitionFilters" in phys
    assert "l_returnflag" in phys.split("PartitionFilters")[1].split("]")[0]
    n_direct = tables["lineitem"].filter(F.col("l_returnflag") == "R").count()
    assert got.count() == n_direct


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    """Two tables bucketed on the join key: the join plan contains no
    Exchange — the co-located join the reference approximated with
    manual site assignment."""
    sinks.write_bucketed_table(
        tables["orders"], "orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"]
    )
    sinks.write_bucketed_table(
        tables["customer"], "customer_b", ["c_custkey"], 8, sort_cols=["c_custkey"]
    )
    j = (
        spark.table("orders_b")
        .join(
            spark.table("customer_b").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "c_name")
    )
    phys = plan_report(j)["physical"]
    assert "Exchange" not in phys, phys
    assert j.count() == tables["orders"].count()
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_jdbc_reader_constructs(spark):
    """No database in the container: assert the reader builds with
    partitioned-scan options (the production config path)."""
    df_builder = readers.read_jdbc
    import inspect

    sig = inspect.signature(df_builder)
    assert {"partition_column", "num_partitions", "predicate"} <= set(sig.parameters)


def test_csv_malformed_row_modes(spark, tmp_path):
    """The three ANSI-ish CSV corruption policies, end-to-end:
    PERMISSIVE null-fills the bad cells and captures the raw line in
    columnNameOfCorruptRecord, DROPMALFORMED silently drops the row,
    FAILFAST raises on materialization. Production ingest at 100 TB
    picks one explicitly — this pins what each choice does."""
    import pytest as _pytest

    from distributedqueryengine_spark.sources.readers import read_csv

    p = str(tmp_path / "dirty.csv")
    with open(p, "w") as f:
        f.write("id,qty,price\n")
        f.write("1,10,2.5\n")
        f.write("2,notanint,3.5\n")   # malformed qty
        f.write("3,30,4.5\n")

    schema = "id INT, qty INT, price DOUBLE, _corrupt STRING"
    perm = read_csv(
        spark, p, schema=schema, mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    ).collect()
    by_id = {r.id: r for r in perm}
    assert len(perm) == 3
    assert by_id[2].qty is None and "notanint" in by_id[2]._corrupt
    assert by_id[1]._corrupt is None and by_id[1].qty == 10

    dropped = read_csv(
        spark, p, schema="id INT, qty INT, price DOUBLE", mode="DROPMALFORMED"
    ).collect()
    assert {r.id for r in dropped} == {1, 3}

    with _pytest.raises(Exception, match="[Mm]alformed"):
        read_csv(
            spark, p, schema="id INT, qty INT, price DOUBLE", mode="FAILFAST"
        ).collect()


def test_dynamic_partition_pruning_engages(spark, tables, tmp_path):
    """Star-schema DPP: joining a dir-partitioned fact on its partition
    column against a FILTERED dimension must inject a runtime pruning
    subquery (dynamicpruningexpression) into the fact scan — at 100 TB
    this is the difference between scanning 3 partitions and all of
    them, decided at run time from the dim filter, not statically."""
    from distributedqueryengine_spark.sources.sinks import write_files

    fact_dir = str(tmp_path / "fact_by_flag")
    write_files(tables["lineitem"], fact_dir, partition_by=["l_returnflag"])
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("A", "keep"), ("N", "drop"), ("R", "drop")], "flag string, verdict string"
    )
    joined = fact.join(dim, fact["l_returnflag"] == dim["flag"]).filter(
        F.col("verdict") == "keep"
    )
    phys = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in phys.lower(), phys[:2000]
    # and the pruned result is correct: only the 'A' partition's rows
    n = joined.count()
    expect = tables["lineitem"].filter(F.col("l_returnflag") == "A").count()
    assert n == expect > 0


def test_compact_files_merges_small_files(spark, tables, tmp_path):
    """A fragmented write (64 tiny files) compacts to the byte-sized
    target count with identical data; the original is swapped out
    atomically (no __compacting/__precompact residue)."""
    import os

    from distributedqueryengine_spark.sources.sinks import compact_files

    path = str(tmp_path / "frag")
    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    orders.repartition(64).write.parquet(path)
    n_files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_files == 64
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    stats = compact_files(spark, path, target_file_mb=128)
    assert stats["files_before"] == 64
    assert stats["files_after"] == 1  # fixture ≪ 128 MB → one file
    after_files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(after_files) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + "__compacting")
    assert not os.path.exists(path + "__precompact")


def test_compact_files_missing_path_raises(spark, tmp_path):
    import pytest as _pytest

    from distributedqueryengine_spark.sources.sinks import compact_files

    with _pytest.raises(FileNotFoundError):
        compact_files(spark, str(tmp_path / "nope"))


def test_parquet_compression_codecs_roundtrip(spark, tables, tmp_path):
    """Codec passthrough via write_files options: zstd/snappy/gzip all
    round-trip identical rows, file extensions carry the codec, and
    uncompressed output is measurably larger."""
    import os

    from distributedqueryengine_spark.sources.sinks import write_files

    li = tables["lineitem"].select("l_orderkey", "l_returnflag", "l_shipdate").coalesce(1)
    before = sorted(tuple(r) for r in li.collect())
    sizes = {}
    for codec in ("zstd", "snappy", "gzip", "uncompressed"):
        path = str(tmp_path / codec)
        write_files(li, path, compression=codec)
        back = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        assert back == before, codec
        files = [f for f in os.listdir(path) if f.endswith(".parquet")]
        if codec != "uncompressed":
            assert all(f".{codec[:2]}" in f or codec in f for f in files), files
        sizes[codec] = sum(
            os.path.getsize(os.path.join(path, f)) for f in files
        )
    assert sizes["uncompressed"] > 1.2 * sizes["zstd"]
    assert sizes["uncompressed"] > 1.2 * sizes["gzip"]


def test_parquet_schema_evolution_merge(spark, tables, tmp_path):
    """Schema evolution pin: a dataset whose later files add a column
    reads with mergeSchema=true (old rows NULL-padded), while the
    default read resolves whichever file schema it samples — the
    documented reason production tables declare schemas explicitly."""
    import pyspark.sql.functions as F

    base = str(tmp_path / "evolving")
    v1 = tables["nation"].select("n_nationkey", "n_name")
    v2 = tables["nation"].select(
        "n_nationkey", "n_name", F.lit("amer").alias("region_code")
    )
    v1.write.parquet(base)
    v2.write.mode("append").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"n_nationkey", "n_name", "region_code"}
    n = v1.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("region_code").isNull()).count() == n
    assert merged.filter(F.col("region_code") == "amer").count() == n

    # explicit schema read: stable regardless of file sampling order
    fixed = spark.read.schema(merged.schema).parquet(base)
    assert fixed.count() == 2 * n
    assert set(fixed.columns) == set(merged.columns)


def test_merge_upsert_files(spark, tables, tmp_path):
    """MERGE semantics on plain parquet: update-by-key, insert-new,
    delete-flagged, untouched-rows preserved, no staging residue, and
    idempotent re-merge."""
    import os

    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    path = str(tmp_path / "target")
    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    nation.write.parquet(path)
    n0 = nation.count()

    updates = spark.createDataFrame(
        [
            (0, "RENAMED ZERO", 9, False),    # update existing key
            (998, "NEWLAND", 4, False),       # insert
            (1, "whatever", 0, True),         # delete key 1
        ],
        "n_nationkey long, n_name string, n_regionkey long, is_deleted boolean",
    )
    stats = merge_upsert_files(
        spark, path, updates, ["n_nationkey"], delete_col="is_deleted"
    )
    # row stats come from parquet footers (no stats-only scans)
    assert stats["rows_before"] == n0
    assert stats["rows_after"] == n0 + 1 - 1
    assert stats["n_updates"] == 3
    assert stats["partitions_rewritten"] == []

    after = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in spark.read.parquet(path).collect()}
    assert after[0] == ("RENAMED ZERO", 9)
    assert after[998] == ("NEWLAND", 4)
    assert 1 not in after
    before = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in nation.collect()}
    for k, v in before.items():
        if k not in (0, 1):
            assert after[k] == v  # untouched rows preserved
    assert not os.path.exists(path + "__merging")
    assert not os.path.exists(path + "__premerge")

    # idempotent: re-applying the same merge changes nothing
    again = merge_upsert_files(
        spark, path, updates, ["n_nationkey"], delete_col="is_deleted"
    )
    assert again["rows_after"] == stats["rows_after"]
    assert {
        r.n_nationkey: (r.n_name, r.n_regionkey)
        for r in spark.read.parquet(path).collect()
    } == after


def _snapshot(root):
    """{relpath: (size, mtime_ns)} for every file under root."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_merge_upsert_partition_pruned(spark, tables, tmp_path):
    """Partition-pruned MERGE: only partitions containing touched keys are
    rewritten — untouched sibling partitions keep byte-identical files
    and mtimes. Covers update, insert-into-existing-partition,
    insert-into-NEW-partition, and idempotent re-merge."""
    import os

    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    path = str(tmp_path / "target")
    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    nation.write.partitionBy("n_regionkey").parquet(path)

    untouched = [
        d for d in os.listdir(path)
        if d.startswith("n_regionkey=") and d not in ("n_regionkey=1",)
    ]
    assert untouched, "fixture needs >1 region partition"
    before_snaps = {d: _snapshot(os.path.join(path, d)) for d in untouched}
    key_in_r1 = nation.filter(F.col("n_regionkey") == 1).first().n_nationkey

    updates = spark.createDataFrame(
        [
            (key_in_r1, "RENAMED", 1, False),   # update inside partition 1
            (997, "NEW-IN-1", 1, False),        # insert into partition 1
            (998, "NEW-REGION", 77, False),     # insert into brand-new partition
        ],
        "n_nationkey long, n_name string, n_regionkey long, is_deleted boolean",
    )
    stats = merge_upsert_files(
        spark, path, updates, ["n_nationkey"],
        delete_col="is_deleted", partition_by=["n_regionkey"],
    )
    assert sorted(stats["partitions_rewritten"]) == [
        "n_regionkey=1", "n_regionkey=77",
    ]
    assert stats["rows_after"] == stats["rows_before"] + 2

    # untouched partitions: identical file sets, sizes, and mtimes
    for d in untouched:
        assert _snapshot(os.path.join(path, d)) == before_snaps[d], d

    got = {
        r.n_nationkey: (r.n_name, int(r.n_regionkey))
        for r in spark.read.parquet(path).collect()
    }
    assert got[key_in_r1] == ("RENAMED", 1)
    assert got[997] == ("NEW-IN-1", 1)
    assert got[998] == ("NEW-REGION", 77)
    for r in nation.collect():
        if r.n_nationkey != key_in_r1:
            assert got[r.n_nationkey] == (r.n_name, int(r.n_regionkey))
    assert not os.path.exists(path + "__merging")
    assert not os.path.exists(path + "__touched")

    again = merge_upsert_files(
        spark, path, updates, ["n_nationkey"],
        delete_col="is_deleted", partition_by=["n_regionkey"],
    )
    assert again["rows_after"] == stats["rows_after"]


def test_merge_partition_pruned_delete_all(spark, tables, tmp_path):
    """Deleting every key of a partition removes its directory; siblings
    stay byte-identical."""
    import os

    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    path = str(tmp_path / "target")
    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    nation.write.partitionBy("n_regionkey").parquet(path)
    r0 = nation.filter(F.col("n_regionkey") == 0)
    rows = r0.collect()
    updates = spark.createDataFrame(
        [(r.n_nationkey, r.n_name, 0, True) for r in rows],
        "n_nationkey long, n_name string, n_regionkey long, is_deleted boolean",
    )
    others = [
        d for d in os.listdir(path)
        if d.startswith("n_regionkey=") and d != "n_regionkey=0"
    ]
    snaps = {d: _snapshot(os.path.join(path, d)) for d in others}
    stats = merge_upsert_files(
        spark, path, updates, ["n_nationkey"],
        delete_col="is_deleted", partition_by=["n_regionkey"],
    )
    assert stats["partitions_rewritten"] == ["n_regionkey=0"]
    assert not os.path.exists(os.path.join(path, "n_regionkey=0"))
    for d in others:
        assert _snapshot(os.path.join(path, d)) == snaps[d], d
    assert spark.read.parquet(path).filter(F.col("n_regionkey") == 0).count() == 0
    # row stats are scoped to the AFFECTED partitions (siblings untouched)
    assert stats["rows_before"] == len(rows)
    assert stats["rows_after"] == 0
    assert spark.read.parquet(path).count() == nation.count() - len(rows)


def test_merge_pruned_requires_partition_cols(spark, tables, tmp_path):
    import pytest as _pytest

    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    path = str(tmp_path / "t")
    tables["nation"].select("n_nationkey", "n_name", "n_regionkey").write.partitionBy(
        "n_regionkey"
    ).parquet(path)
    updates = spark.createDataFrame(
        [(0, "X")], "n_nationkey long, n_name string"
    )
    with _pytest.raises(ValueError, match="missing target columns|partition column"):
        merge_upsert_files(
            spark, path, updates, ["n_nationkey"], partition_by=["n_regionkey"]
        )


def test_compact_files_incremental(spark, tables, tmp_path):
    """Incremental compaction rewrites ONLY fragmented partitions; the
    already-compact partition's files and mtimes are untouched."""
    import os

    from distributedqueryengine_spark.sources.sinks import compact_files

    path = str(tmp_path / "part")
    orders = tables["orders"].select("o_orderkey", "o_totalprice", "o_orderpriority")
    orders.coalesce(1).write.partitionBy("o_orderpriority").parquet(path)
    parts = sorted(d for d in os.listdir(path) if d.startswith("o_orderpriority="))
    assert len(parts) >= 2
    frag, *clean = parts
    # fragment one partition into 16 tiny files
    fdir = os.path.join(path, frag)
    fval = frag.split("=", 1)[1].replace("%20", " ")
    (
        orders.filter(F.col("o_orderpriority") == fval)
        .drop("o_orderpriority")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(fdir)
    )
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    clean_snaps = {d: _snapshot(os.path.join(path, d)) for d in clean}

    stats = compact_files(
        spark, path, target_file_mb=128,
        partition_by=["o_orderpriority"], incremental=True,
    )
    assert stats["partitions_total"] == len(parts)
    assert stats["partitions_compacted"] == 1
    for d in clean:
        assert _snapshot(os.path.join(path, d)) == clean_snaps[d], d
    frag_files = [f for f in os.listdir(fdir) if f.endswith(".parquet")]
    assert len(frag_files) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before

    # second run: nothing left to compact, zero rewrites
    again = compact_files(
        spark, path, target_file_mb=128,
        partition_by=["o_orderpriority"], incremental=True,
    )
    assert again["partitions_compacted"] == 0


def test_swap_crash_recovery(spark, tables, tmp_path):
    """Failure contract of the rename-swap: a crash between the two
    renames leaves the backup dir and no live dir — recover_swap()
    restores it; with a live dir present it is a no-op; a missing
    staging dir raises and leaves the previous data in place."""
    import os

    import pytest as _pytest

    from distributedqueryengine_spark.sources import sinks

    path = str(tmp_path / "ds")
    tables["nation"].write.parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    # simulate crash between rename(live->backup) and rename(staging->live)
    os.rename(path, path + "__premerge")
    assert sinks.recover_swap(spark, path) == ["__premerge"]
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert sinks.recover_swap(spark, path) is None  # idempotent no-op

    # failed staging->live rename: backup restored, error raised
    jvm, _, fs = sinks._fs(spark, path)
    with _pytest.raises(IOError):
        sinks._swap_in(
            jvm, fs,
            sinks._hpath(jvm, path),
            sinks._hpath(jvm, str(tmp_path / "no_such_staging")),
            sinks._hpath(jvm, path + "__precompact"),
        )
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + "__precompact")


def test_rel_escape_roundtrip():
    """The partition rel-path escape used in sibling backup names is
    lossless, including values containing '%' and '_' (the old '/'→'_'
    replace was ambiguous)."""
    from distributedqueryengine_spark.sources import sinks

    for rel in (
        "p=a", "p1=a/p2=b", "p=a_b/q=c", "p=100%25/q=x", "p=%2F odd/q=1",
    ):
        assert sinks._unesc_rel(sinks._esc_rel(rel)) == rel
        assert "/" not in sinks._esc_rel(rel)


def test_partition_merge_crash_recovery(spark, tables, tmp_path):
    """Crash between the two renames of a PER-PARTITION merge swap leaves
    '<path>__premerge__<esc-rel>' and no live partition dir. recover_swap
    must restore it, and a re-run of the merge must self-heal rather
    than recompute from updates only and destroy the backup (the r8
    silent-data-loss bug)."""
    import os

    from distributedqueryengine_spark.sources import sinks
    from distributedqueryengine_spark.sources.sinks import merge_upsert_files

    path = str(tmp_path / "target")
    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    nation.write.partitionBy("n_regionkey").parquet(path)
    before = {
        r.n_nationkey: (r.n_name, int(r.n_regionkey))
        for r in spark.read.parquet(path).collect()
    }

    # simulate the crash window: partition 1 renamed to its backup name
    rel = "n_regionkey=1"
    backup = path + "__premerge__" + sinks._esc_rel(rel)
    os.rename(os.path.join(path, rel), backup)
    assert not os.path.exists(os.path.join(path, rel))

    # explicit recovery restores the partition byte-for-byte
    actions = sinks.recover_swap(spark, path)
    assert actions == ["__premerge__" + rel]
    assert not os.path.exists(backup)
    got = {
        r.n_nationkey: (r.n_name, int(r.n_regionkey))
        for r in spark.read.parquet(path).collect()
    }
    assert got == before

    # crash again, then go STRAIGHT to a merge: it must self-heal first,
    # so old partition-1 rows survive alongside the merged update
    os.rename(os.path.join(path, rel), backup)
    key_in_r1 = nation.filter(F.col("n_regionkey") == 1).first().n_nationkey
    updates = spark.createDataFrame(
        [(key_in_r1, "RENAMED", 1, False)],
        "n_nationkey long, n_name string, n_regionkey long, is_deleted boolean",
    )
    merge_upsert_files(
        spark, path, updates, ["n_nationkey"],
        delete_col="is_deleted", partition_by=["n_regionkey"],
    )
    got = {
        r.n_nationkey: (r.n_name, int(r.n_regionkey))
        for r in spark.read.parquet(path).collect()
    }
    expect = dict(before)
    expect[key_in_r1] = ("RENAMED", 1)
    assert got == expect  # nothing lost, update applied
    assert not os.path.exists(backup)


def test_partition_merge_finalize_after_swap(spark, tables, tmp_path):
    """Crash AFTER the second rename but before backup deletion: live
    partition exists AND its backup exists. recover_swap finishes the
    swap (deletes the stale backup) and never clobbers the new data."""
    import os
    import shutil

    from distributedqueryengine_spark.sources import sinks

    path = str(tmp_path / "target")
    nation = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    nation.write.partitionBy("n_regionkey").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    rel = "n_regionkey=1"
    backup = path + "__premerge__" + sinks._esc_rel(rel)
    shutil.copytree(os.path.join(path, rel), backup)  # stale backup copy
    actions = sinks.recover_swap(spark, path)
    assert actions == ["__premerge__" + rel + " (finalized)"]
    assert not os.path.exists(backup)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before


def test_swap_in_refuses_to_delete_only_copy(spark, tables, tmp_path):
    """_swap_in with a backup present and live missing must raise and
    leave the backup intact (it is the only copy), not delete it."""
    import os

    import pytest as _pytest

    from distributedqueryengine_spark.sources import sinks

    live = str(tmp_path / "live")
    tables["nation"].write.parquet(live)
    os.rename(live, live + "__bak")  # crash state: backup only
    jvm, _, fs = sinks._fs(spark, live)
    with _pytest.raises(IOError, match="recover_swap"):
        sinks._swap_in(
            jvm, fs,
            sinks._hpath(jvm, live),
            sinks._hpath(jvm, str(tmp_path / "staging")),
            sinks._hpath(jvm, live + "__bak"),
        )
    assert os.path.exists(live + "__bak")  # backup survived


def test_incremental_compaction_stages_outside_tree(spark, tables, tmp_path):
    """Incremental compaction must never create staging/backup dirs
    INSIDE the dataset root (a concurrent reader would see them as bogus
    partition values). Verified by hooking the per-dir write and
    listing the root mid-compaction, plus crash recovery of a
    partition-level '__precompact__' backup."""
    import os

    from distributedqueryengine_spark.sources import sinks

    path = str(tmp_path / "ds")
    orders = tables["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.partitionBy("o_orderpriority").parquet(path)
    parts = [d for d in os.listdir(path) if d.startswith("o_orderpriority=")]
    frag = parts[0]
    fdir = os.path.join(path, frag)
    fval = frag.split("=", 1)[1].replace("%20", " ")
    (
        orders.filter(F.col("o_orderpriority") == fval)
        .drop("o_orderpriority")
        .repartition(16)
        .write.mode("overwrite")
        .parquet(fdir)
    )
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    seen_inside = []
    orig = sinks._swap_in

    def spy(jvm, fs, live, staging, backup):
        # at swap time the staging dir exists and is fully written:
        # assert nothing staging-like is visible inside the dataset root
        seen_inside.extend(
            d for d in os.listdir(path)
            if "__compacting" in d or "__precompact" in d
        )
        seen_inside.extend(
            s for s in (str(staging), str(backup))
            if s.startswith(path + "/")
        )
        return orig(jvm, fs, live, staging, backup)

    sinks._swap_in = spy
    try:
        stats = sinks.compact_files(
            spark, path, target_file_mb=128,
            partition_by=["o_orderpriority"], incremental=True,
        )
    finally:
        sinks._swap_in = orig
    assert stats["partitions_compacted"] == 1
    assert seen_inside == []
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before

    # crash window for the per-partition compaction swap: backup sibling
    # exists, partition dir missing → compact_files self-heals on entry
    backup = path + "__precompact__" + sinks._esc_rel(frag)
    os.rename(fdir, backup)
    stats = sinks.compact_files(
        spark, path, target_file_mb=128,
        partition_by=["o_orderpriority"], incremental=True,
    )
    assert not os.path.exists(backup)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before


def test_recover_swap_spares_unrelated_prefix_dirs(spark, tables, tmp_path):
    """recover_swap deletes ONLY the exact staging names the protocol
    creates ('<base>__compacting' / '<base>__compacting__<rel>'), never
    an unrelated sibling that merely shares the prefix."""
    import os

    from distributedqueryengine_spark.sources import sinks

    path = str(tmp_path / "ds")
    tables["nation"].write.parquet(path)
    bystander = path + "__compacting_old"   # not a protocol name
    os.makedirs(bystander)
    with open(os.path.join(bystander, "keep.txt"), "w") as f:
        f.write("precious")
    residue = path + "__compacting"
    os.makedirs(residue)
    actions = sinks.recover_swap(spark, path)
    assert actions == ["__compacting (staging dropped)"]
    assert os.path.exists(os.path.join(bystander, "keep.txt"))
    assert not os.path.exists(residue)


def test_maintenance_lock_single_writer(spark, tables, tmp_path):
    """Swap-protocol single-writer contract: while one maintenance op
    holds the lock, a second compact/merge on the same dataset root
    raises loudly and touches nothing; force_unlock reclaims a stale
    lock; the lock is released on normal completion."""
    import os

    import pytest as _pytest

    from distributedqueryengine_spark.sources import sinks

    path = str(tmp_path / "ds")
    tables["nation"].write.parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    # simulate a concurrent (or crashed) writer holding the lock
    lockfile = path + "__maintenance_lock"
    with open(lockfile, "w"):
        pass
    with _pytest.raises(RuntimeError, match="maintenance lock held"):
        sinks.compact_files(spark, path, target_file_mb=1)
    upd = spark.read.parquet(path).limit(1)
    with _pytest.raises(RuntimeError, match="maintenance lock held"):
        sinks.merge_upsert_files(spark, path, upd, ["n_nationkey"])
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before

    # stale-lock reclaim, then normal completion releases the lock
    stats = sinks.compact_files(spark, path, target_file_mb=64, force_unlock=True)
    assert stats["files_after"] >= 1
    assert not os.path.exists(lockfile)
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before

    # back-to-back runs succeed (lock released each time); re-read the
    # update frame, compaction replaced the files it pointed at
    upd2 = spark.read.parquet(path).limit(1)
    sinks.merge_upsert_files(spark, path, upd2, ["n_nationkey"])
    assert not os.path.exists(lockfile)


def test_merge_schema_evolution(spark, tables, tmp_path):
    """MERGE schema evolution: off by default (new column raises with
    a message naming the flag); on, a full-rewrite merge lands the
    evolved schema with NULLs on untouched rows; a partition-pruned
    merge rewrites only touched partitions (siblings keep old files —
    readers use mergeSchema)."""
    import glob as _glob

    import pytest as _pytest

    from distributedqueryengine_spark.sources import sinks

    # ---- unpartitioned: full rewrite carries the evolved schema
    path = str(tmp_path / "ds")
    tables["nation"].write.parquet(path)
    upd = (
        spark.read.parquet(path).limit(2)
        .withColumn("n_rating", F.lit(4.5))
    )
    with _pytest.raises(ValueError, match="allow_schema_evolution"):
        sinks.merge_upsert_files(spark, path, upd, ["n_nationkey"])
    touched = {r.n_nationkey for r in upd.collect()}
    stats = sinks.merge_upsert_files(
        spark, path, upd, ["n_nationkey"], allow_schema_evolution=True
    )
    out = spark.read.parquet(path)
    assert "n_rating" in out.columns
    assert stats["rows_before"] == stats["rows_after"]
    for r in out.collect():
        if r.n_nationkey in touched:
            assert r.n_rating == 4.5
        else:
            assert r.n_rating is None

    # ---- partition-pruned: untouched partition files stay byte-identical
    ppath = str(tmp_path / "dsp")
    tables["nation"].write.partitionBy("n_regionkey").parquet(ppath)
    upd2 = (
        spark.read.parquet(ppath)
        .filter(F.col("n_regionkey") == 0).limit(1)
        .withColumn("n_flag", F.lit("new"))
    )
    before_files = {
        f: os.path.getmtime(f)
        for f in _glob.glob(ppath + "/n_regionkey=2/*.parquet")
    }
    stats2 = sinks.merge_upsert_files(
        spark, ppath, upd2, ["n_nationkey"],
        partition_by=["n_regionkey"], allow_schema_evolution=True,
    )
    assert stats2["partitions_rewritten"] == ["n_regionkey=0"]
    after_files = {
        f: os.path.getmtime(f)
        for f in _glob.glob(ppath + "/n_regionkey=2/*.parquet")
    }
    assert before_files == after_files  # sibling untouched
    merged = spark.read.option("mergeSchema", "true").parquet(ppath)
    assert "n_flag" in merged.columns
    flag_rows = merged.filter(F.col("n_flag").isNotNull()).collect()
    assert len(flag_rows) == 1 and flag_rows[0].n_regionkey == 0
