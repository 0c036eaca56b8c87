"""File-level zone maps (data skipping): per-file min/max stats from
parquet FOOTERS, used to prune the file list before Spark ever opens a
scan.

Spark's parquet reader already does row-group predicate pushdown — but
only AFTER listing and footer-reading every file in the dataset. At
100 TB / millions of files, the listing+footer pass itself is the
bottleneck for selective queries. The Delta/Iceberg answer is a
transaction-log-style stats table; this module implements the same
data-skipping contract over plain parquet directories (the reference
engine's fragment catalog — `QueryService.asmx.cs:310-427` — routes by
table NAME only; it has no notion of value-based pruning):

- `write_zonemap(spark, path, cols)` — reads ONLY footers (pyarrow
  metadata, no data pages) distributed over the executors, and writes
  `<path>/_zonemap/` (underscore prefix → invisible to normal Spark
  reads): one row per (file, col) with typed min/max/null stats.
- `prune_files(spark, path, predicates)` — conservative file pruning:
  a file is skipped ONLY when its stats prove no row can match. Files
  with no stats row (appended after the zonemap was written), with
  NULL min/max (all-NULL chunk), or with a column type the predicate
  can't compare are always KEPT — staleness degrades skipping, never
  correctness. Files that disappeared (rewritten by compaction) drop
  out via intersection with the live listing.
- `read_with_skipping(spark, path, predicates)` — reads the surviving
  files and re-applies the predicate as a real filter (zone maps prune
  files; the residual filter prunes rows).

Pairs with `operators/zorder.py`: Z-ordered compaction clusters value
ranges per file, which is exactly what makes min/max spans narrow and
file skipping effective — tested together in tests/test_zonemap.py.

Predicates are conjunctive triples (col, op, value), op ∈
{'=', '<', '<=', '>', '>=', 'between', 'in'} ('between' takes a
(lo, hi) tuple, 'in' a value list — a file is skipped only when EVERY
listed value provably misses it). Other disjunctions: run prune per
branch and union the file sets.

Temporal columns: predicate values may be `datetime.date` /
`datetime.datetime` objects; both stats and predicates share ONE
encoding (epoch days / UTC epoch micros, naive datetimes pinned to
UTC) so pruning never depends on the executor's local timezone. Note
Spark's default INT96 parquet timestamps carry no footer min/max —
such files are conservatively never pruned; write with
`spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` to make
timestamp skipping effective.

Filesystems (r13): a bare POSIX path stays driver-local (os.walk +
plain open — the lab-lake fast path). Any scheme-qualified path
(`file:`, `hdfs://`, `s3a://`, ...) routes the listing and the
format-version marker through the session's Hadoop FS, and the
executor-side footer
reads through `pyarrow.fs.FileSystem.from_uri` — so a zonemap can
live next to a non-local table. `file:` URIs take the same branch a
cluster URI would, which is what the tests exercise.
"""
from __future__ import annotations

import os
import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    Row,
    StringType,
    StructField,
    StructType,
)

__all__ = ["write_zonemap", "update_zonemap", "prune_files", "read_with_skipping", "list_data_files"]

_STATS_SCHEMA = StructType([
    StructField("file", StringType(), False),
    StructField("col", StringType(), False),
    # numeric stats (ints, floats, dates→epoch-days, timestamps→epoch-µs)
    StructField("min_num", DoubleType(), True),
    StructField("max_num", DoubleType(), True),
    # string stats (parquet keeps UTF-8 min/max; order matches Spark's
    # binary string comparison for ASCII — non-ASCII is kept, not pruned)
    StructField("min_str", StringType(), True),
    StructField("max_str", StringType(), True),
    StructField("has_nulls", BooleanType(), True),
    StructField("n_rows", LongType(), False),
])

_OPS = {"=", "<", "<=", ">", ">=", "between", "in"}

# Temporal encoding: dates → true epoch days ((d - 1970-01-01).days),
# timestamps → UTC epoch microseconds (instants). The two SIDES of the
# comparison pin naive wall-clocks differently, each matching what the
# value actually denotes:
#   - FOOTER STATS: parquet timestamp stats are UTC-adjusted instants;
#     when pyarrow surfaces them as naive datetimes they are UTC
#     wall-clock → pin to UTC. Never the executor's local timezone —
#     `.timestamp()` on a naive value is machine-dependent and made
#     pruning non-conservative.
#   - PREDICATE VALUES: the same value is ALSO re-applied as the
#     residual row filter via F.lit(), and Spark interprets a naive
#     datetime literal in spark.sql.session.timeZone. The pruning
#     bound must be the SAME instant the filter tests, so naive
#     predicate datetimes are encoded through the session timezone
#     (ADVICE r11: a UTC-pinned bound under a non-UTC session was
#     offset from the filter and could prune files with matching rows).
# Timezone-AWARE values are exact instants on both sides.
import datetime as _dt

_EPOCH_DAY = _dt.date(1970, 1, 1)

# Persisted stats encoding version. v2 = epoch-days dates + UTC-micros
# timestamps (r11); the unversioned r10 layout (ordinal dates,
# local-tz micros) reads as "no marker" and is rebuilt/ignored rather
# than silently compared against v2 predicate encodings (ADVICE r11).
_ZONEMAP_FORMAT = 2
_FORMAT_MARKER = "_format_version"


class _UnresolvableSessionTimezone(Exception):
    """Session timezone string we cannot map to a tzinfo. Pruning
    catches this and degrades to keep-the-file (conservative); it must
    never escape prune_files/read_with_skipping as a crash."""


# Fixed-offset remainder after an optional GMT/UTC/UT prefix: Spark
# (java.time.ZoneId) accepts +8, +08, +08:00, +0800, +08:00:00,
# +080000 — all legal session timezones that are NOT IANA tzdata keys,
# so ZoneInfo raises on them (ADVICE r12).
_OFFSET_RE = re.compile(r"([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?")


def _resolve_tz(tz_name: str):
    """tzinfo for a Spark-legal session timezone string: IANA region
    IDs via ZoneInfo, fixed-offset forms (GMT+8, UTC+08:00, +08:00,
    -0530, Z, ...) via datetime.timezone. Returns None when the string
    resolves to neither — callers must then treat the predicate as
    non-prunable rather than raise mid-read."""
    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(tz_name)
    except Exception:
        pass
    s = tz_name.strip()
    up = s.upper()
    for pre in ("GMT", "UTC", "UT"):
        if up.startswith(pre):
            s = s[len(pre):]
            break
    if s == "" or s.upper() == "Z":
        return _dt.timezone.utc
    m = _OFFSET_RE.fullmatch(s)
    if m is None:
        return None
    sign = 1 if m.group(1) == "+" else -1
    h, mi, sec = int(m.group(2)), int(m.group(3) or 0), int(m.group(4) or 0)
    if h > 18 or mi > 59 or sec > 59:
        return None
    return _dt.timezone(sign * _dt.timedelta(hours=h, minutes=mi, seconds=sec))


def _ts_micros(value, tz_name: str | None = None) -> float:
    """Epoch microseconds of the instant `value` denotes. Naive values
    are localized to `tz_name` when given (predicate side: match
    Spark's session-timezone literal semantics), else pinned to UTC
    (footer-stats side: parquet stats are UTC-adjusted). Raises
    _UnresolvableSessionTimezone when tz_name resolves to nothing —
    pruning call sites catch it and keep the file."""
    if value.tzinfo is None:
        if tz_name:
            tz = _resolve_tz(tz_name)
            if tz is None:
                raise _UnresolvableSessionTimezone(tz_name)
            value = value.replace(tzinfo=tz)
        else:
            value = value.replace(tzinfo=_dt.timezone.utc)
    return value.timestamp() * 1e6


def _is_uri(path: str) -> bool:
    """Scheme-qualified paths (file:, hdfs://, s3a://, ...) route
    through the Hadoop FS / pyarrow.fs branches; bare paths stay on
    the driver-local POSIX fast path."""
    return "://" in path or path.startswith("file:")


def _join(path: str, name: str) -> str:
    return path.rstrip("/") + "/" + name if _is_uri(path) else os.path.join(path, name)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, hpath


def _dir_exists(path: str, spark: SparkSession | None) -> bool:
    if not _is_uri(path):
        return os.path.isdir(path)
    _, fs, hp = _hadoop_fs(spark, path)
    return bool(fs.exists(hp))


def _rmtree(path: str, spark: SparkSession | None) -> None:
    if not _is_uri(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    _, fs, hp = _hadoop_fs(spark, path)
    fs.delete(hp, True)


def list_data_files(path: str, spark: SparkSession | None = None) -> list[str]:
    """Visible .parquet data files under `path` (recursive, skipping
    underscore/dot-prefixed names at every level — same hidden-file
    rule as Spark's input listing). Bare POSIX paths walk the local
    filesystem; scheme-qualified URIs list through the session's
    Hadoop FS (pass `spark` — required for URIs) and return fully
    qualified URIs, so the stats table, the live listing, and the
    pruned read all speak the same path dialect."""
    if not _is_uri(path):
        out: list[str] = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    out.append(os.path.join(root, f))
        return sorted(out)
    if spark is None:
        raise ValueError(f"list_data_files: a SparkSession is required for URI paths ({path})")
    _, fs, hp = _hadoop_fs(spark, path)
    root = fs.getFileStatus(hp).getPath()  # fully qualified
    root_str = root.toString()
    it = fs.listFiles(root, True)
    out = []
    while it.hasNext():
        p = it.next().getPath().toString()
        rel = p[len(root_str):].lstrip("/")
        segs = rel.split("/")
        if any(s.startswith(("_", ".")) for s in segs):
            continue
        if segs[-1].endswith(".parquet"):
            out.append(p)
    return sorted(out)


def _open_footer_source(fpath: str):
    """What pq.ParquetFile should open for `fpath` — executor-side, so
    no JVM: bare paths and file: URIs map to local paths; other
    schemes open through pyarrow.fs.FileSystem.from_uri."""
    if fpath.startswith("file:"):
        p = fpath[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return p
    if "://" in fpath:
        import pyarrow.fs as pafs

        fs, rel = pafs.FileSystem.from_uri(fpath)
        return fs.open_input_file(rel)
    return fpath


def _footer_stats(files: list[str], cols: list[str]):
    """Per-file column stats from parquet footers only — runs on
    executors; pyarrow reads the metadata block, never data pages."""
    import datetime

    import pyarrow.parquet as pq

    for fpath in files:
        md = pq.ParquetFile(_open_footer_source(fpath)).metadata
        names = {md.schema.column(i).path: i for i in range(md.num_columns)}
        for col in cols:
            ci = names.get(col)
            if ci is None:
                continue
            mn = mx = None
            has_nulls = False
            all_have_stats = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    all_have_stats = False
                    if st is not None and st.null_count:
                        has_nulls = True
                    continue
                if st.null_count:
                    has_nulls = True
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if not all_have_stats:
                # a chunk without stats could hold anything → emit a
                # row that can never prune (NULL bounds, has_nulls)
                mn = mx = None
            min_num = max_num = min_str = max_str = None
            if mn is not None:
                if isinstance(mn, bool):
                    min_num, max_num = float(mn), float(mx)
                elif isinstance(mn, (int, float)):
                    min_num, max_num = float(mn), float(mx)
                elif isinstance(mn, datetime.datetime):
                    min_num = _ts_micros(mn)
                    max_num = _ts_micros(mx)
                elif isinstance(mn, datetime.date):
                    min_num = float((mn - _EPOCH_DAY).days)
                    max_num = float((mx - _EPOCH_DAY).days)
                elif isinstance(mn, str):
                    min_str, max_str = mn, mx
                elif isinstance(mn, bytes):
                    try:
                        min_str = mn.decode("utf-8")
                        max_str = mx.decode("utf-8")
                    except UnicodeDecodeError:
                        pass
                # other types (decimal…): leave bounds NULL → never prunes
            yield Row(
                file=fpath, col=col, min_num=min_num, max_num=max_num,
                min_str=min_str, max_str=max_str,
                has_nulls=bool(has_nulls) if mn is not None else None,
                n_rows=md.num_rows,
            )


def write_zonemap(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Build and persist `<path>/_zonemap/` from parquet footers; one
    row per (data file, stats column). Distributed: the file list is
    parallelized and each executor reads only footers (~KB per file).
    Returns the stats DataFrame. Re-run after compaction/merge to
    refresh; between refreshes, pruning stays conservative (new files
    have no stats row → always kept)."""
    cols = list(cols)
    files = list_data_files(path, spark)
    if not files:
        raise ValueError(f"write_zonemap: no parquet data files under {path}")
    n_slices = max(1, min(len(files), 64))
    rows_rdd = (
        spark.sparkContext.parallelize(files, n_slices)
        .mapPartitions(lambda fs: _footer_stats(list(fs), cols))
    )
    stats = spark.createDataFrame(rows_rdd, _STATS_SCHEMA)
    zdir = _join(path, "_zonemap")
    stats.repartition(1).write.mode("overwrite").parquet(zdir)
    _write_format_version(zdir, spark)
    return spark.read.schema(_STATS_SCHEMA).parquet(zdir)


def _pred_expr(op: str, value) -> tuple:
    if op not in _OPS:
        raise ValueError(f"unsupported op {op!r}; use one of {sorted(_OPS)}")
    if op == "between":
        lo, hi = value
    elif op in ("<", "<="):
        lo, hi = None, value
    elif op in (">", ">="):
        lo, hi = value, None
    else:
        lo = hi = value
    return lo, hi


def _bound_cols(value, tz_name: str | None = None):
    if isinstance(value, str):
        return F.col("min_str"), F.col("max_str"), F.lit(value)
    # datetime BEFORE date: datetime subclasses date.
    if isinstance(value, _dt.datetime):
        # tz_name = session timezone: the bound must be the instant the
        # residual F.lit() filter will test (module-header contract)
        num = _ts_micros(value, tz_name)
    elif isinstance(value, _dt.date):
        num = float((value - _EPOCH_DAY).days)
    else:
        num = float(value)
    return F.col("min_num"), F.col("max_num"), F.lit(num)


def _session_tz(spark: SparkSession) -> str | None:
    try:
        return spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # pragma: no cover - conf always present in practice
        return None


def _read_format_version(zdir: str, spark: SparkSession | None = None) -> int:
    """Version of the persisted stats encoding; 0 when the marker is
    absent (pre-versioning layout or torn write) — callers treat
    anything below _ZONEMAP_FORMAT as unusable."""
    marker = _join(zdir, _FORMAT_MARKER)
    if not _is_uri(zdir):
        try:
            with open(marker) as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return 0
    try:
        jvm, fs, hp = _hadoop_fs(spark, marker)
        if not fs.exists(hp):
            return 0
        stream = fs.open(hp)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        return int(text.strip())
    except Exception:
        return 0


def _write_format_version(zdir: str, spark: SparkSession | None = None) -> None:
    # AFTER the parquet write: mode("overwrite") wipes the dir, and a
    # crash between the two leaves no marker → reads degrade to
    # no-pruning, updates to full rebuild. Underscore prefix keeps the
    # marker invisible to the spark.read.parquet listing of zdir.
    marker = _join(zdir, _FORMAT_MARKER)
    if not _is_uri(zdir):
        with open(marker, "w") as f:
            f.write(str(_ZONEMAP_FORMAT))
        return
    _, fs, hp = _hadoop_fs(spark, marker)
    out = fs.create(hp, True)
    try:
        out.write(bytearray(str(_ZONEMAP_FORMAT).encode("utf-8")))
    finally:
        out.close()


def _impossible_clause(col: str, op: str, value, tz: str | None):
    """Boolean Column over a stats row: does THIS row prove no row of
    its file can match (col, op, value)? Raises
    _UnresolvableSessionTimezone when a naive-datetime bound can't be
    encoded — the caller skips the predicate."""
    this_col = F.col("col") == col
    if op == "in":
        # impossible iff EVERY listed value falls outside [min, max]
        imp = F.lit(True)
        for v in value:
            mn, mx, lv = _bound_cols(v, tz)
            imp = imp & mn.isNotNull() & mx.isNotNull() & ((mn > lv) | (mx < lv))
        return this_col & imp
    lo, hi = _pred_expr(op, value)
    # strict ops exclude the bound itself
    strict_lo = op == ">"
    strict_hi = op == "<"
    impossible = F.lit(False)
    if hi is not None:
        mn, _, v = _bound_cols(hi, tz)
        # every row >= file min; if min > hi (or >= for strict) no match
        impossible = impossible | (
            mn.isNotNull() & ((mn > v) if not strict_hi else (mn >= v))
        )
    if lo is not None:
        _, mx, v = _bound_cols(lo, tz)
        impossible = impossible | (
            mx.isNotNull() & ((mx < v) if not strict_lo else (mx <= v))
        )
    return this_col & impossible


def prune_files(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple],
) -> list[str]:
    """Files under `path` that MAY contain matching rows, per the
    persisted zonemap. Missing zonemap → all files (no skipping,
    full correctness). The returned list is intersected with the live
    listing, so stats rows for rewritten/deleted files are inert.
    A session timezone no tzinfo can be built for (shouldn't happen —
    _resolve_tz covers every java.time.ZoneId form — but the failure
    mode of a miss is a crash mid-read) makes naive-datetime
    predicates non-prunable instead of raising (ADVICE r12)."""
    live = list_data_files(path, spark)
    zdir = _join(path, "_zonemap")
    if not _dir_exists(zdir, spark):
        return live
    if _read_format_version(zdir, spark) < _ZONEMAP_FORMAT:
        # stats written under an older (or unmarked) encoding cannot
        # be compared against current predicate encodings — degrade to
        # no pruning (conservative) until update_zonemap rebuilds
        return live
    stats = spark.read.schema(_STATS_SCHEMA).parquet(zdir)
    tz = _session_tz(spark)

    drop_any = F.lit(False)  # per (file,col) row: proven impossible?
    for col, op, value in predicates:
        try:
            drop_any = drop_any | _impossible_clause(col, op, value, tz)
        except _UnresolvableSessionTimezone:
            # can't encode the bound the residual filter will test →
            # this predicate proves nothing; files stay (conservative)
            continue

    # Only a stats row can PROVE impossibility, so files without stats
    # are never in `dropped` and always survive (conservative).
    dropped = {
        r.file
        for r in stats.where(drop_any).select("file").distinct().collect()
    }
    return [f for f in live if f not in dropped]


def read_with_skipping(
    spark: SparkSession,
    path: str,
    predicates: Sequence[tuple],
) -> DataFrame:
    """Zone-map-pruned read: scan only surviving files, then re-apply
    the predicate as a row filter. Equals the full-scan filter exactly
    (pruning is conservative); NULL column values never match any
    predicate, mirroring SQL comparison semantics."""
    schema = spark.read.parquet(path).schema
    survivors = prune_files(spark, path, predicates)
    if not survivors:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(*survivors)
    cond = F.lit(True)
    for col, op, value in predicates:
        c = F.col(col)
        lo, hi = _pred_expr(op, value)
        if op == "=":
            cond = cond & (c == F.lit(value))
        elif op == "between":
            cond = cond & c.between(F.lit(lo), F.lit(hi))
        elif op == "<":
            cond = cond & (c < F.lit(value))
        elif op == "<=":
            cond = cond & (c <= F.lit(value))
        elif op == ">":
            cond = cond & (c > F.lit(value))
        elif op == "in":
            cond = cond & c.isin(list(value))
        else:
            cond = cond & (c >= F.lit(value))
    return df.where(cond)


def update_zonemap(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Incremental zonemap refresh: read footers ONLY for files that
    have no stats row yet (appended since the last build), drop rows
    for files no longer live (rewritten by compaction), keep everything
    else untouched. At scale this is the difference between re-reading
    a million footers after every append and reading just the delta.

    Falls back to a full `write_zonemap` when no zonemap exists.
    Returns the refreshed stats DataFrame."""
    zdir = _join(path, "_zonemap")
    if not _dir_exists(zdir, spark):
        return write_zonemap(spark, path, cols)
    if _read_format_version(zdir, spark) < _ZONEMAP_FORMAT:
        # pre-versioning (or older-format) stats: values in the kept
        # rows would mix encodings with the fresh rows — full rebuild
        return write_zonemap(spark, path, cols)
    cols = list(cols)
    live = list_data_files(path, spark)
    old = spark.read.schema(_STATS_SCHEMA).parquet(zdir)
    have = {r.file for r in old.select("file").distinct().collect()}
    new_files = [f for f in live if f not in have]
    # drop stats for no-longer-live files via a LEFT SEMI join against
    # the live listing — an isin() with tens of thousands of literals
    # builds a giant In-expression whose analysis/codegen alone took
    # 17.7s at 20k files (slower than the 2.4s full rebuild; frozen in
    # ZONEMAP_FILES_PROBE_r11.json). The semi join is a broadcast
    # hash join against a name-only DataFrame: flat in file count.
    live_df = spark.createDataFrame(
        [(f,) for f in live], "file string"
    )
    kept = old.join(F.broadcast(live_df), "file", "left_semi")
    if new_files:
        n_slices = max(1, min(len(new_files), 64))
        rows_rdd = (
            spark.sparkContext.parallelize(new_files, n_slices)
            .mapPartitions(lambda fs: _footer_stats(list(fs), cols))
        )
        fresh = spark.createDataFrame(rows_rdd, _STATS_SCHEMA)
        merged = kept.unionByName(fresh)
    else:
        merged = kept
    # write-then-swap through a sibling temp dir: a reader hitting the
    # zonemap mid-refresh sees either the old or the new stats, and a
    # missing/partial zonemap only degrades skipping, never correctness
    tmp = zdir + "__refresh"
    merged.repartition(1).write.mode("overwrite").parquet(tmp)
    final = spark.read.schema(_STATS_SCHEMA).parquet(tmp).localCheckpoint()
    final.repartition(1).write.mode("overwrite").parquet(zdir)
    _write_format_version(zdir, spark)
    _rmtree(tmp, spark)
    return spark.read.schema(_STATS_SCHEMA).parquet(zdir)
