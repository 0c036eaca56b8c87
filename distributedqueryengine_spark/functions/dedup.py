"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Core training-data-pipeline capability (north star, BASELINE.json).
Scale design — every algorithm is expressed as shuffle-based DataFrame
transformations with NO pairwise O(n²) stage over the full corpus:

- exact: hash-groupBy on a content fingerprint (one shuffle).
- MinHash LSH: shingle-explode → per-permutation min-hash (partial
  aggregation) → band signatures → candidate pairs only *within* a
  band bucket. Work is O(n·shingles + candidates), the standard
  near-dup pipeline shape (as used by large web-corpus dedup runs).
- SimHash: 64-bit fingerprint via per-bit weighted sums (one groupBy),
  near-dup candidates via band-equality buckets (pigeonhole: hamming
  distance ≤ 3 ⇒ at least one of 4 16-bit bands equal).
- n-gram Jaccard: exact verification on candidate pairs only.

All hashing uses Spark's built-in xxhash64 (JVM, codegen) — no Python
in the hot path. Every hashing stage also has a `portable=True` mode
that swaps xxhash64 for engine-portable constructions (md5-derived
60-bit ints + universal-hash arithmetic mod 2^31-1) so the ENTIRE
near-dup pipeline can be value-checked against a DuckDB oracle running
the identical math; xxhash64 stays the default production path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from distributedqueryengine_spark.functions.text import fingerprint, normalize_text

# ---------------------------------------------- portable hashing mode

#: Mersenne prime 2^31-1: universal-hash modulus small enough that
#: a*x+b never overflows signed 64-bit in either engine.
P31 = 2_147_483_647


# Scoped pipeline caches (same discipline as inventory's sketch
# registry, r12): every internal persist() in the near-dup pipelines
# registers in a bounded FIFO — once it exceeds _PIPELINE_CACHE_MAX
# entries the oldest are unpersisted, so a long-lived session running
# dedup repeatedly holds a bounded cache instead of accumulating
# partitions forever. FIFO (not drain-on-entry) because one composite
# query legitimately constructs several pipelines into a single plan
# (dedup_near_suite: minhash + simhash + winnow + clusters ≈ 10
# persists) and evicting a sibling branch mid-construction would throw
# away its eagerly materialized candidate pairs — worse, the clusters
# branch's connected-components iterations re-reference their own
# pipeline's pairs, so a too-small cap makes every CC iteration
# recompute the whole LSH spine (measured: a 16-entry cap tripled the
# suite's construction wall). 64 leaves ~3x headroom over the largest
# composite (~18 live entries) while still bounding a long-lived
# session's cache footprint. Eviction is always
# SAFE regardless: every registered entry is a plain persist with
# intact lineage (never a checkpoint), so a consumer that outlives its
# cache degrades to recompute, never to a wrong answer.
_PIPELINE_CACHE: list[DataFrame] = []
_PIPELINE_CACHE_MAX = 64


def _scoped_persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _PIPELINE_CACHE.append(df)
    while len(_PIPELINE_CACHE) > _PIPELINE_CACHE_MAX:
        try:
            _PIPELINE_CACHE.pop(0).unpersist()
        except Exception:
            pass
    return df


def _drain_pipeline_cache() -> None:
    """Explicit full drain (tests / end-of-job housekeeping)."""
    while _PIPELINE_CACHE:
        try:
            _PIPELINE_CACHE.pop().unpersist()
        except Exception:
            pass


def portable_hash64(c: Column) -> Column:
    """60-bit engine-portable hash: integer value of the first 15 hex
    chars of md5. DuckDB mirror:
    CAST('0x' || substr(md5(x), 1, 15) AS BIGINT). Non-negative, so
    %/min/ordering agree across engines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _splitmix(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def perm_coeffs(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal-hash MinHash
    permutations h_i(x) = (a_i*x + b_i) mod P31, a_i != 0. Shared by
    the Spark expression and the generated oracle SQL."""
    return [
        (
            1 + _splitmix(seed * 1_000_003 + i) % (P31 - 1),
            _splitmix(seed * 2_000_003 + i) % P31,
        )
        for i in range(num_perm)
    ]


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group rows by content fingerprint: (fp, canonical_id, n_copies).

    The survivor is min(id) — deterministic. One hash shuffle on the
    16-byte fingerprint, never on the document text itself (at 100 TB
    you shuffle 16-byte keys, not documents).
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per distinct content (the min-id survivor)."""
    survivors = exact_duplicates(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(survivors, on=id_col, how="left_semi")


# ------------------------------------------------------------- shingles

def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, portable: bool = False
) -> DataFrame:
    """Explode each document into its distinct word n-gram shingles,
    pre-hashed to 64 bits: (id, shingle_hash). Downstream stages touch
    only the 8-byte hash, not the text.

    Built from arrays_zip + slice + explode rather than a transform()
    lambda: higher-order functions are CodegenFallback (interpreted
    per element), while this formulation stays in whole-stage codegen
    — ~10× on shingle-heavy corpora.
    """
    from distributedqueryengine_spark.session import ensure_parallelism

    if n <= 0:
        raise ValueError(f"shingle size must be positive, got {n}")
    toks = F.split(normalize_text(text_col), " ")
    n_grams = F.greatest(F.size(toks) - n + 1, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, n_grams).alias(f"t{i}") for i in range(n)]
    )
    g = ensure_parallelism(df).select(F.col(id_col).alias("id"), F.explode(zipped).alias("z"))
    gram = F.concat_ws(" ", *[F.col(f"z.t{i}") for i in range(n)])
    h = portable_hash64(gram) if portable else F.xxhash64(gram)
    return g.select("id", h.alias("sh")).distinct()


# ---------------------------------------------------------- MinHash LSH

def minhash_signatures(
    sh: DataFrame, num_perm: int = 32, portable: bool = False,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per document from its shingle hashes.

    Permutation i is simulated by re-hashing: xxhash64(sh, i), or in
    portable mode by the universal hash (a_i*(sh mod P31)+b_i) mod P31
    — pure arithmetic with identical results in DuckDB. The min over
    each permutation is a partial-aggregatable agg — map-side combine
    keeps the shuffle at one row per document.
    Output: (id, sig array<long>[num_perm]).

    ``with_size=True`` (r16) adds `sz` — the document's distinct-
    shingle count — computed IN the same aggregate: the Jaccard
    verification stage needs exactly these set sizes, and deriving
    them here (then passing ``sizes=`` to jaccard_on_pairs) saves the
    separate corpus-wide groupBy over the shingle table that the
    default path pays. 8 bytes per signature row; free at any scale.
    """
    # SQL-string expression construction (r16, same rationale as
    # simhash): one parser call per permutation instead of ~6 client→
    # JVM round trips — identical parsed trees, bit-identical mins.
    if portable:
        coeffs = perm_coeffs(num_perm)
        mins = [
            F.expr(
                f"min(((sh % {P31}) * {a} + {b}) % {P31}) AS m{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ]
    else:
        mins = [
            F.expr(f"min(xxhash64(sh, {i})) AS m{i}")
            for i in range(num_perm)
        ]
    if with_size:
        mins.append(F.count(F.lit(1)).alias("sz"))
    sigs = sh.groupBy("id").agg(*mins)
    cols = ["id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig")]
    if with_size:
        cols.append(F.col("sz"))
    return sigs.select(*cols)


def band_buckets(
    sigs: DataFrame, num_perm: int = 32, bands: int = 8, portable: bool = False
) -> DataFrame:
    """(id, band, bh) band-bucket assignments from (id, sig) MinHash
    signatures — the LSH index relation. Shared by the batch candidate
    self-join below and the streaming stream-static candidate join
    (streaming/dedup.py); also the thing you persist as a bucketed
    table to amortize the index at scale."""
    if num_perm <= 0 or bands <= 0 or num_perm % bands != 0:
        # a silent num_perm//bands here would drop the remainder
        # permutations from every band (quietly weaker S-curve), and
        # bands > num_perm would hash an EMPTY row-slice — every doc
        # lands in one bucket and the self-join goes quadratic.
        raise ValueError(
            f"bands={bands} must evenly divide num_perm={num_perm}"
        )
    r = num_perm // bands
    # ONE parsed SQL expression for the whole band array (r16, same
    # rationale as simhash/minhash_signatures): the per-band struct
    # construction out of Column operators cost hundreds of client→JVM
    # round trips per call; the parsed tree — and every band hash — is
    # identical.
    def _sig_concat(b: int) -> str:
        elems = ", ".join(
            f"CAST(sig[{b * r + j}] AS STRING)" for j in range(r)
        )
        return f"concat_ws(',', {elems})"

    if portable:
        def _bh(b: int) -> str:
            return (
                f"CAST(conv(substring(md5({_sig_concat(b)}), 1, 15), 16, 10)"
                " AS BIGINT)"
            )
    else:
        def _bh(b: int) -> str:
            return f"xxhash64({_sig_concat(b)})"

    structs = ", ".join(
        f"struct({b} AS band, {_bh(b)} AS bh)" for b in range(bands)
    )
    return sigs.select(
        "id", F.expr(f"explode(array({structs}))").alias("bb")
    ).select("id", "bb.band", "bb.bh")


def lsh_candidate_pairs(
    sigs: DataFrame, num_perm: int = 32, bands: int = 8, portable: bool = False
) -> DataFrame:
    """Banding: equal band-signature ⇒ candidate pair.

    bands=8 over 32 perms → r=4 rows/band; the S-curve threshold is
    (1/b)^(1/r) ≈ 0.59 Jaccard. Pairs are produced by a self-equi-join
    on (band, band_hash) — hash-partitionable, never O(n²); dedup'd
    with id_a < id_b.
    """
    # persist (lazy): the self-join below references `banded` on BOTH
    # sides — without it the whole upstream shingle→signature pipeline
    # executes twice, once per side. |docs|×bands rows, trivially small.
    banded = _scoped_persist(
        band_buckets(sigs, num_perm, bands, portable=portable)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame, sh: DataFrame, broadcast_limit: int = 10_000,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs via shingle co-occurrence.

    |A∩B| = count of shared shingle hashes; |A∪B| = |A|+|B|-|A∩B|.

    Join strategy: while candidates ≪ corpus (the LSH contract), the
    candidate-pair side is broadcast, so the big shingle table streams
    once per join with NO shuffle of its 8-byte-hash rows. The
    broadcast of `a_side` (candidate documents' shingles) grows as
    n_pairs × shingles/doc, so above `broadcast_limit` candidate pairs
    — a pathological LSH band collision or a very low threshold — every
    join degrades gracefully to a shuffled hash join instead of
    OOM-ing an executor on the broadcast.
    """
    # `pairs` is referenced four times below (intersection probe, final
    # join, two size restrictions); without persist every broadcast
    # re-materializes the whole upstream LSH pipeline. The count both
    # materializes the persist and decides the join strategy.
    pairs = _scoped_persist(pairs)
    n_pairs = pairs.count()
    maybe_b = F.broadcast if n_pairs <= broadcast_limit else (lambda df: df)
    # `sizes` may ride in from the signature aggregate (r16 —
    # minhash_signatures(with_size=True)), saving this second
    # corpus-wide groupBy over the shingle table
    if sizes is None:
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    else:
        sizes = sizes.select("id", F.col("sz"))
    a_side = sh.join(
        maybe_b(pairs), sh["id"] == pairs["id_a"]
    ).select("id_a", "id_b", "sh")
    inter = (
        sh.alias("y")
        .join(
            maybe_b(a_side).alias("t"),
            (F.col("y.id") == F.col("t.id_b")) & (F.col("y.sh") == F.col("t.sh")),
        )
        .groupBy("t.id_a", "t.id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # Size lookups restricted to candidate ids BEFORE joining — `sizes`
    # is corpus-sized and must never be broadcast; the restricted
    # per-candidate lookup is pairs-sized and safely is.
    sz_a = sizes.join(
        maybe_b(pairs.select("id_a").distinct()), sizes["id"] == F.col("id_a")
    ).select("id_a", F.col("sz").alias("sz_a"))
    sz_b = sizes.join(
        maybe_b(pairs.select("id_b").distinct()), sizes["id"] == F.col("id_b")
    ).select("id_b", F.col("sz").alias("sz_b"))
    return (
        pairs.join(maybe_b(inter), ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(maybe_b(sz_a), "id_a")
        .join(maybe_b(sz_b), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    min_jaccard: float = 0.5,
    portable: bool = False,
    staged: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    candidates → exact-Jaccard filter. Returns (id_a, id_b, jaccard).

    staged=True (default): exact-collapse FIRST — fingerprint-group the
    corpus, run the LSH spine only on canonical survivors, then map
    canonical pairs back through the exact groups and add the
    within-group pairs (identical text ⟺ jaccard 1.0). Output is
    IDENTICAL to the unstaged pipeline (pinned in tests/test_dedup.py):
    identical texts share signatures, so they band-collide exactly when
    their canonicals do. The r11 100× probe measured why this is the
    default: on a corpus duplicated 100×, the raw spine's candidate set
    blows up quadratically per content group (85M true pairs, 29 GB
    shuffle, OOMs an 8 GB heap) while the staged spine sees only the
    collapsed corpus — 9.3s vs 411.6s (SCALING.md). On a corpus with no
    exact dups the stage costs one extra 16-byte-hash groupBy."""
    if staged:
        return _staged_near_duplicates(
            df, id_col, text_col, ngram, num_perm, bands, min_jaccard, portable
        )
    return _lsh_near_duplicates(
        df, id_col, text_col, ngram, num_perm, bands, min_jaccard, portable
    )


def _lsh_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    num_perm: int,
    bands: int,
    min_jaccard: float,
    portable: bool,
) -> DataFrame:
    """The raw LSH spine (no exact-collapse, no cache drain — the
    public entry points handle both)."""
    # The shingle table feeds both the signature and the verification
    # stage; cache it so the explode+hash runs once (MEMORY_AND_DISK:
    # spills rather than OOMs at scale).
    sh = _scoped_persist(shingles(df, id_col, text_col, ngram, portable=portable))
    # persist the (small, one-row-per-doc) signature table so BOTH its
    # consumers — the band buckets and the Jaccard size lookups — read
    # one materialization of the single shingle-table aggregate (r16:
    # with_size=True folds the set sizes into it, removing the second
    # corpus-wide groupBy the default jaccard_on_pairs path pays)
    sigs = _scoped_persist(
        minhash_signatures(sh, num_perm, portable=portable, with_size=True)
    )
    pairs = lsh_candidate_pairs(sigs, num_perm, bands, portable=portable)
    scored = jaccard_on_pairs(pairs, sh, sizes=sigs)
    return scored.filter(F.col("jaccard") >= min_jaccard)


def _staged_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int,
    num_perm: int,
    bands: int,
    min_jaccard: float,
    portable: bool,
) -> DataFrame:
    """Exact-collapse → LSH on survivors → map back (see
    minhash_near_duplicates). The member map is (doc id, canonical id,
    has-shingles flag) — narrow rows, persisted because the expansion
    references it four times. `__has_sh` mirrors the shingle
    emptiness rule in `shingles` (token count >= n): zero-shingle docs
    never get a signature in the unstaged path, so they must not mint
    within-group pairs here either."""
    groups = exact_duplicates(df, id_col, text_col)
    mem = (
        df.select(
            F.col(id_col).alias("__m_id"),
            fingerprint(text_col).alias("fp"),
            (
                F.size(F.split(normalize_text(text_col), " ")) >= ngram
            ).alias("__has_sh"),
        )
        .join(groups.select("fp", "canonical_id"), "fp")
        .select("__m_id", "canonical_id", "__has_sh")
    )
    mem = _scoped_persist(mem)
    survivors = df.join(
        groups.select(F.col("canonical_id").alias(id_col)), id_col, "left_semi"
    )
    canon = _lsh_near_duplicates(
        survivors, id_col, text_col, ngram, num_perm, bands,
        min_jaccard, portable,
    )
    # cross-group expansion: every member pair of a canonical pair is a
    # near-dup at the SAME jaccard (identical text per group). Groups
    # are disjoint, so each unordered member pair appears exactly once.
    ma = mem.select(F.col("canonical_id").alias("__ca"), F.col("__m_id").alias("__a"))
    mb = mem.select(F.col("canonical_id").alias("__cb"), F.col("__m_id").alias("__b"))
    cross = (
        canon.join(ma, canon["id_a"] == ma["__ca"])
        .join(mb, canon["id_b"] == mb["__cb"])
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            "jaccard",
        )
    )
    # within-group pairs: exact duplicates are jaccard 1.0 by
    # definition (identical shingle sets)
    shd = mem.filter(F.col("__has_sh"))
    w1 = shd.select(F.col("canonical_id").alias("__c"), F.col("__m_id").alias("__a"))
    w2 = shd.select(F.col("canonical_id").alias("__c"), F.col("__m_id").alias("__b"))
    within = (
        w1.join(w2, "__c")
        .filter(F.col("__a") < F.col("__b"))
        .select(
            F.col("__a").alias("id_a"),
            F.col("__b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if min_jaccard > 1.0:  # degenerate threshold: nothing qualifies
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


# -------------------------------------------------------------- SimHash

def simhash(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """SimHash per document: bit i is the sign of the sum over tokens
    of ±1 depending on bit i of the token hash. 64 bits from xxhash64
    by default; 60 bits from the md5-derived portable hash in portable
    mode (identical math in DuckDB).

    Expressed as one explode + one groupBy with one conditional-sum
    aggregate per bit — all JVM-side, map-side-combinable. Output:
    (id, simhash long)."""
    from distributedqueryengine_spark.session import ensure_parallelism

    n_bits = 60 if portable else 64
    tok_hash = portable_hash64 if portable else F.xxhash64
    tok = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("t"),
    ).withColumn("h", tok_hash(F.col("t")))
    # Per bit: set-count c_i, and sign(Σ±1) > 0  ⟺  2·c_i > n — plain
    # bit sums instead of conditional ±1 sums (identical fingerprints,
    # ~8% faster measured: no CASE in the 60/64 aggregate exprs).
    #
    # Expressions are built as SQL strings, ONE parser call per
    # aggregate (r16): composing each of the 60/64 bit sums and the
    # 60/64-term fingerprint fold out of Column operators cost ~10
    # client→JVM round trips per node — ~1.5s of pure DataFrame
    # CONSTRUCTION per call, worth more than the branch's actual
    # execution. The parsed trees are identical (shiftright/&/shiftleft
    # are the same expressions; CAST(boolean AS BIGINT) is 1/0 exactly
    # like the CASE it replaces), so fingerprints are bit-identical.
    bit_counts = [
        F.expr(f"sum(shiftright(h, {i}) & 1) AS c{i}") for i in range(n_bits)
    ]
    agg = tok.groupBy("id").agg(F.count(F.lit(1)).alias("n"), *bit_counts)
    fp = F.expr(
        " ^ ".join(
            f"shiftleft(CAST(c{i} * 2 > n AS BIGINT), {i})"
            for i in range(n_bits)
        )
    )
    return agg.select("id", fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming.

    Pigeonhole banding: split the fingerprint into max_hamming+1 bands
    (the minimum that makes the guarantee hold — distance ≤ d over d+1
    bands forces ≥ 1 band to match exactly, so candidates come from an
    equi-join on (band_idx, band_value), shuffle-partitionable), then
    the exact hamming filter (bit_count, JVM) keeps true pairs. The
    default d=3 gives the classic 4×16-bit layout (4×15 portable);
    other d values split the bit-width as evenly as possible — a
    hardcoded band count would silently LOSE RECALL for d > 3.
    Larger d ⇒ fewer bits per band ⇒ denser buckets: the standard
    recall/candidate-volume trade."""
    n_bits = 60 if portable else 64
    n_bands = max_hamming + 1
    if n_bands > n_bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than bits")
    base, rem = divmod(n_bits, n_bands)
    widths = [base + (1 if b < rem else 0) for b in range(n_bands)]
    offsets = [sum(widths[:b]) for b in range(n_bands)]
    sh = simhash(df, id_col, text_col, portable=portable)

    def _band_value(b: int):
        v = F.shiftright(F.col("simhash"), offsets[b])
        # width == 64 (only max_hamming=0 in 64-bit mode): the mask
        # (1<<64)-1 overflows LongType, and masking is a no-op anyway —
        # skip it instead of passing an unrepresentable literal.
        if widths[b] < 64:
            v = v.bitwiseAND(F.lit((1 << widths[b]) - 1))
        return v

    # persist (lazy): self-joined below — without it the token-explode +
    # 60-bit-sum fingerprint aggregation runs once PER JOIN SIDE
    # (measured 2× the branch's cost at sf0.1). |docs|×n_bands rows.
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        _band_value(b).alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.bv")
    banded = _scoped_persist(banded)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------- Winnowing

def positional_ngram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, portable: bool = False
) -> DataFrame:
    """(id, pos, h): 64-bit hash of the token k-gram starting at each
    position — the winnowing substrate. Same codegen-friendly
    arrays_zip+slice construction as `shingles`, plus posexplode to
    keep the position."""
    from distributedqueryengine_spark.session import ensure_parallelism

    if k <= 0:
        raise ValueError(f"k-gram size must be positive, got {k}")
    toks = F.split(normalize_text(text_col), " ")
    n_grams = F.greatest(F.size(toks) - k + 1, F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, n_grams).alias(f"t{i}") for i in range(k)]
    )
    g = ensure_parallelism(df).select(F.col(id_col).alias("id"), F.posexplode(zipped).alias("pos", "z"))
    gram = F.concat_ws(" ", *[F.col(f"z.t{i}") for i in range(k)])
    h = portable_hash64(gram) if portable else F.xxhash64(gram)
    return g.select("id", "pos", h.alias("h"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme,
    Schleimer et al. 2003): hash every token k-gram, then keep the
    minimum hash of each window of w consecutive k-grams. Guarantee:
    any match of ≥ w+k-1 consecutive tokens between two documents
    shares at least one fingerprint; expected density 2/(w+1).

    Distributed shape: one explode (per-token row fan-out), one
    running-min window partitioned BY DOCUMENT (no cross-document
    shuffle skew — each doc's rows sort locally within its partition),
    one distinct. Output: (id, fp) — join it against itself on fp to
    find copied passages at corpus scale.
    """
    from pyspark.sql.window import Window

    if k <= 0 or w <= 0:
        raise ValueError(f"winnowing needs k>0 and w>0, got k={k} w={w}")
    ph = positional_ngram_hashes(df, id_col, text_col, k, portable=portable)
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    cnt = Window.partitionBy("id")
    # Canonical winnowing slides only FULL windows of w k-grams; a doc
    # shorter than w k-grams contributes its single global min
    # (pos 0's partial window).
    return (
        ph.select(
            "id",
            "pos",
            F.min("h").over(win).alias("fp"),
            F.count(F.lit(1)).over(cnt).alias("n_grams"),
        )
        .filter((F.col("pos") <= F.col("n_grams") - w) | (F.col("pos") == 0))
        .select("id", "fp")
        .distinct()
    )


# ------------------------------------------- Connected components

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_edge_cap: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    (id, component) where component = min id reachable — the canonical
    representative every training-data dedup pipeline needs to go from
    pairwise matches to "keep one per cluster".

    Size-gated (r15): near-dup edge lists are SPARSE by construction
    (they survived an LSH band collision AND an exact-Jaccard
    threshold), so up to ``driver_edge_cap`` distinct edges the edges
    collect once and a driver union-find labels them in milliseconds —
    ~10× less wall than even two propagation rounds, at ANY corpus
    size where the cap holds, because rounds cost fixed
    scheduler/shuffle latency. The output is bit-identical
    (union-by-min-root ⇒ root = component min; pinned against the
    distributed path in tests/test_dedup.py).

    Driver footprint at the cap (r16 ADVICE — the r15 Row-object path
    realistically cost hundreds of MB of heap): the collect is an
    Arrow transfer into numpy (1M edges ≈ 16 MB raw + the Arrow
    batch), the union-find runs over an index-remapped int64 parent
    array (≤ 2M entries ≈ 16 MB), and the result returns through one
    Arrow-backed createDataFrame — tens of MB end to end, no
    per-row Python objects. Size driver memory for ~5× the raw edge
    bytes, or lower the cap.

    Above the cap: iterative min-label propagation. Each round every
    node adopts the minimum label in its closed neighborhood;
    converges in O(diameter) rounds (near-dup clusters are tiny —
    diameter rarely exceeds a handful). Each round is two
    hash-partitioned shuffles (join + groupBy) on (id, label) pairs
    only — never the documents; `localCheckpoint` truncates the
    growing lineage so round N doesn't replan rounds 1..N-1.
    Iteration is driver-coordinated but all data stays distributed
    (the only collect is the 1-row convergence check), matching
    GraphX/GraphFrames' CC strategy. Genuinely non-SQL-expressible
    (unbounded recursion) → rows-only gate + union-find reference
    test.
    """
    edges = (
        pairs.select(F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if driver_edge_cap > 0:
        head = edges.limit(driver_edge_cap + 1).toArrow()
        if head.num_rows <= driver_edge_cap:
            import numpy as np
            import pandas as pd

            if head.num_rows == 0:
                return pairs.sparkSession.createDataFrame(
                    [], "id long, component long"
                )
            src = head.column("src").to_numpy(zero_copy_only=False)
            dst = head.column("dst").to_numpy(zero_copy_only=False)
            # index-remap: ids sorted ascending, so index order is id
            # order and "smaller index" == "smaller id"
            ids = np.unique(np.concatenate([src, dst]))
            si = np.searchsorted(ids, src)
            di = np.searchsorted(ids, dst)
            parent = np.arange(len(ids), dtype=np.int64)

            def find(x: int) -> int:
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(si.tolist(), di.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    # attach the LARGER root under the smaller so the
                    # final root is the component min (the contract)
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            comp = np.array([find(i) for i in range(len(ids))])
            return pairs.sparkSession.createDataFrame(
                pd.DataFrame(
                    {"id": ids, "component": ids[comp]}
                )
            )
        # over the cap: fall through to the distributed path — but the
        # cap+1 rows already collected tell us nothing reusable; the
        # plan below re-reads the (persisted upstream) pair list
    # undirected: keep both directions so label flow is symmetric
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.repartition("src").localCheckpoint()

    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # label(v) <- min(label(v), min over neighbors u of label(u))
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Min-label propagation needs O(diameter) rounds; a component
        # whose diameter exceeds max_iter would silently get WRONG
        # (split) labels — make that loud instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            f"a component has diameter > {max_iter} — raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.5,
    portable: bool = False,
    staged: bool = True,
) -> DataFrame:
    """MinHash pairs → connected components → one row per document
    with its cluster representative (docs with no near-dup are their
    own representative only if they appear in a pair; absent docs are
    implicitly unique). `staged=False` skips the exact-collapse
    pre-stage — correct and cheaper when the caller has ALREADY
    exact-deduped the corpus (pipeline.curate_corpus stage 3 follows
    stage 2), pure overhead avoidance since staged≡unstaged output is
    pinned in tests/test_dedup.py."""
    # persist the pair list: connected_components' first action (the
    # size-gate collect or the label seed) would otherwise recompute
    # the entire LSH spine a second time (measured ~5s at sf0.1)
    pairs = _scoped_persist(
        minhash_near_duplicates(
            df, id_col, text_col, min_jaccard=min_jaccard,
            portable=portable, staged=staged,
        )
    )
    return connected_components(pairs)


def source_overlap_matrix(
    df: DataFrame | None = None,
    group_col: str | None = None,
    text_col: str | None = None,
    n: int = 3,
    portable: bool = False,
    group_shingles: DataFrame | None = None,
) -> DataFrame:
    """Pairwise content overlap between corpus groups (sources, dumps,
    snapshots): for every group pair a < b, the distinct word-n-gram
    intersection size and Jaccard similarity — the corpus-governance
    report that catches "dump X is 40% dump Y" before training double
    counts it, and the source-level cousin of per-document near-dup.

    Scale shape: ONE shingle pass keyed by group (map-side distinct
    into (group, hash) rows — content never shuffles, only 8-byte
    hashes), group set sizes from a partial-agg count, intersections
    from a self-join ON the shingle hash. Per shingle the join emits
    at most groups² rows, so the blow-up is bounded by the (small)
    group cardinality, never by corpus size; skewed mega-shingles
    can't exist because inputs are distinct per group.

    Returns (src_a, src_b, n_a, n_b, n_common, jaccard) with jaccard
    rounded to 6dp, one row per unordered pair with any overlap.

    `group_shingles` (columns id=group, sh) skips the tokenize pass —
    a pipeline that already holds per-DOCUMENT distinct shingles (the
    near-dup spine) derives it exactly via a doc→group join + distinct,
    since the union of per-doc distinct sets IS the per-group distinct
    set (the suite's candidate-reuse pattern). Pass `df` XOR
    `group_shingles`: on the reuse path `df`/`text_col`/`n`/`portable`
    are NOT consulted — the caller's shingle table defines the n-gram
    size and hash mode, and supplying mismatched values here would
    silently misdescribe the result (r13 ADVICE) — so mixing the two
    input styles raises instead.
    """
    if group_shingles is not None:
        if df is not None:
            raise ValueError(
                "source_overlap_matrix: pass df XOR group_shingles — "
                "the reuse path ignores df/group_col/text_col/n/"
                "portable, so supplying both hides which shingle "
                "definition produced the numbers"
            )
        sh = group_shingles
    else:
        if df is None or group_col is None or text_col is None:
            raise ValueError(
                "source_overlap_matrix needs (df, group_col, text_col) "
                "or a prebuilt group_shingles table"
            )
        sh = shingles(df, group_col, text_col, n=n, portable=portable)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_set"))
    a = sh.select(F.col("id").alias("src_a"), "sh")
    b = sh.select(F.col("id").alias("src_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("id", "src_a")
                        .withColumnRenamed("n_set", "n_a")), "src_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("id", "src_b")
                        .withColumnRenamed("n_set", "n_b")), "src_b")
        .select(
            "src_a", "src_b", "n_a", "n_b", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
