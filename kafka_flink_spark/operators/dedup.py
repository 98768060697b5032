"""Deduplication operators for training-data pipelines: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH banding, and SimHash.

Scale design
------------
* **Signatures are computed per-row with higher-order column
  expressions** (transform/aggregate over token arrays + portable md5
  hashing — functions/hashing.py): no explode, no Python, no shuffle
  until the actual candidate grouping. A 100 TB corpus streams through
  signature computation at scan speed.
* **Only signatures shuffle.** Exact dedup groups by a 16-byte hash,
  never the raw text. LSH shuffles (band_id, band_key) pairs — tens of
  bytes per doc per band — and joins candidates within buckets. The
  raw-text join for verification happens only on the candidate set,
  which is orders of magnitude smaller than the corpus.
* **Quadratic work is confined to buckets.** The all-pairs shingle
  join (ngram_jaccard_pairs) is the correctness baseline; MinHash+LSH
  is the scale path — band width tunes the detection-probability
  S-curve.
* **Bucket sizes are guarded against boilerplate mega-clusters.**
  Docs with identical signatures (byte-identical boilerplate: empty
  pages, license headers) are band-indistinguishable, so both banding
  ops join ONE representative per distinct signature and expand group
  pairs back to doc pairs afterwards — bucket size is |distinct
  signatures per band key|, not |docs|, and a million identical copies
  contribute a single banding row instead of a quadratic hot key. The
  emitted pair set is unchanged (pathological-corpus test pins this).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_flink_spark.functions.hashing import md5_long, md5_long_value
from kafka_flink_spark.operators.iterative import pin

SHINGLE_K = 3
NUM_PERMS = 16
NUM_BANDS = 8  # 8 bands × 2 rows: P(candidate) = 1-(1-j^2)^8 — 0.9 @ j≈0.5


def shingle_array(col: str = "text", k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles as a per-row array expression —
    a narrow op: no explode, no shuffle, evaluated inline wherever the
    caller projects it. Documents shorter than ``k`` words contribute
    their whole text as the single shingle."""
    toks = F.split(F.col(col), " ")
    return F.when(
        F.size(toks) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - k + 1),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def with_shingles(df: DataFrame, col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """Distinct word k-gram shingles as an array column (narrow op)."""
    return df.withColumn("shingles", shingle_array(col, k))


def shingle_rows(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", k: int = SHINGLE_K
) -> DataFrame:
    """Distinct word k-gram shingles in EXPLODED form: one
    (id, shingle) row each — ``explode(shingle_array(...))``, a single
    narrow stage with no shuffle at all (``array_distinct`` already
    dedupes within the row, so no corpus-wide ``distinct`` is needed).
    An earlier window-``lead`` formulation paid a shuffle for the gram
    derivation plus another for the distinct; this one pays zero.
    """
    return df.select(F.col(id_col), F.explode(shingle_array(col, k)).alias("s"))


def exact_dedup(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one representative (min id) per
    normalized-text md5; the shuffle key is the 32-char hash, not the
    document body."""
    norm = F.lower(F.trim(F.col(col)))
    return (
        df.select(F.md5(norm).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def perm_constant(p: int) -> int:
    """60-bit xor constant for permutation ``p``: md5-derived, so the
    DuckDB oracle reproduces it from the same public recipe."""
    return md5_long_value(f"perm:{p}")


def minhash_signatures(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = NUM_PERMS,
    fan_out: bool = True,
) -> DataFrame:
    """MinHash signature per document: each shingle is md5-hashed ONCE
    to a 60-bit value, and permutation ``p`` is the xor-bijection
    ``h ^ K_p`` (md5-derived constants): sig[p] = array_min over the
    per-row hashed-shingle array of (h ^ K_p).

    Plan shape: the distinct-shingle array is built per-row (narrow),
    exploded in the same stage, and md5 + the ``num_perms`` xor-min
    aggregates all run in whole-stage codegen with map-side partial
    aggregation — the ONE exchange carries ``num_perms``+1 longs per
    document, never shingle strings. (Measured against the two
    alternatives at fixture scale: hashing inside per-row higher-order
    transforms loses because HOF lambdas evaluate interpreted, and a
    window-``lead`` shingle derivation loses an extra corpus-wide
    shuffle; this hybrid keeps the digest loop in codegen and the
    exchange minimal.)

    One md5 per shingle instead of ``num_perms`` salted md5s is the
    difference between 16 digest computations and 16 xors per shingle.
    Xor by a constant is a bijection on the hash space, so each sig[p]
    is still the min of a uniformly-distributed relabeling; candidate
    quality is guarded downstream by exact-Jaccard verification.

    ``fan_out`` (default on) re-splits an under-partitioned input
    first — a sub-splittable corpus file otherwise serializes the
    whole md5 pass onto one core; see operators/partitioning.py. On an
    already-parallel scan it is a no-op and the single-exchange plan
    contract below holds exactly (plan-gated with fan_out=False).
    """
    if fan_out:
        from kafka_flink_spark.operators.partitioning import fan_out_narrow

        df = fan_out_narrow(df)
    hashed = df.select(
        F.col(id_col), F.explode(shingle_array(col)).alias("s")
    ).select(F.col(id_col), md5_long("s").alias("h"))
    aggs = [
        F.min(F.col("h").bitwiseXOR(F.lit(perm_constant(p)).cast("long"))).alias(
            f"mh{p}"
        )
        for p in range(num_perms)
    ]
    # Distinct-shingle count rides along — downstream Jaccard needs it
    # (the array is already distinct, so count(*) == |shingle set|).
    aggs.append(F.count("*").alias("n_sh"))
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    min_jaccard: float = 0.5,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection.

    signature → band keys (rows-per-band consecutive perms) →
    self-join on (band_id, band_key) → distinct candidate pairs →
    verify with exact shingle Jaccard ≥ ``min_jaccard``.

    Scale shape: corpus-wide work is ONE narrow pass computing
    per-row signatures (no shuffle — see minhash_signatures) plus the
    banding self-join, which shuffles (id, band_key) rows only — tens
    of bytes per doc per band. Verification then re-shingles ONLY the
    docs that appear in a candidate pair (a semi-join keeps the
    projection from running corpus-wide) and compares their distinct-
    shingle arrays directly with array_intersect — the exact same
    Jaccard as an exploded common-shingle count, without ever
    materializing a corpus-sized exploded relation.

    ``bucket_cap`` guards the one remaining quadratic: a boilerplate
    family with near-identical-but-DISTINCT signatures (the identical
    case collapses below) still lands one (band_id, band_key) bucket,
    and all-pairs over m distinct signatures is m²/2 × num_bands join
    rows. Buckets with ≤ ``bucket_cap`` distinct signatures keep exact
    all-pairs; an oversized bucket routes to a hub STAR — each member
    pairs with the bucket's minimum-rep signature only (m−1 linear
    rows), and every emitted pair still passes exact-Jaccard
    verification. Documented recall tradeoff, deliberate: a pair in an
    oversized bucket is emitted only if it co-occurs in some small
    bucket elsewhere or one side is (near) the hub — the bounded-work
    contract that survives a 10M-doc boilerplate family at 100 TB.
    ``bucket_cap=None`` disables the cap (exact semantics at any
    skew). The bucket count and hub ride ONE window over the banding
    relation, pre-partitioned exactly as the self-join needs, so the
    guard adds no corpus-sized exchange.
    """
    rows_per_band = num_perms // num_bands
    sig_cols = [f"mh{p}" for p in range(num_perms)]
    # One fan-out decision for the whole operator: the signature pass
    # AND the verification re-shingle read the same raw relation, and
    # both are CPU-bound narrow passes (operators/partitioning.py).
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    sigs = minhash_signatures(df, col, id_col, num_perms, fan_out=False)
    # --- bucket-size guard: collapse identical signatures -----------
    # A boilerplate mega-cluster (empty pages, license headers) puts
    # every copy in the SAME (band_id, band_key) bucket; self-joining
    # docs directly goes quadratic ×num_bands on that hot key. Docs
    # with identical full signatures are band-indistinguishable, so
    # band-join ONE representative per distinct signature and expand
    # group-level candidate pairs back to doc pairs afterwards. The
    # candidate set is unchanged (same sig ⇒ same bands ⇒ candidate;
    # reps share a band ⇔ all their members do); bucket size becomes
    # |distinct signatures per band key|, and the mega-cluster
    # contributes ONE banding row. The expansion is output-sized —
    # a quadratic PAIR SET is inherent to emitting all pairs, but no
    # join input is ever quadratic-amplified (×num_bands) anymore.
    # The signature relation feeds the member mapping, the rep table,
    # and (through them) every downstream join. EAGER pin
    # (not a lazy persist): the final job reads it from 3+ branches
    # concurrently, and a lazy cache races partition-level — measured
    # at the bench corpus (r12), up to 3x duplicate executions of the
    # corpus-wide signature aggregation plus repeated Catalyst
    # re-analysis of the full lineage; pinning it once took the whole
    # pair path from 3.4s to 1.6s. num_perms+2 longs per doc: bounded.
    sigs = sigs.withColumn(
        "_gfp", F.md5(F.concat_ws(":", *[F.col(c).cast("string") for c in sig_cols]))
    ).transform(pin)
    # doc → signature-group mapping; feeds the within-group self-join
    # and both expansion joins (narrow: id + 32-char fp per doc).
    members = sigs.select(F.col(id_col), "_gfp")
    # one representative row per distinct signature (map-side min over
    # the pinned signatures); checkpointed because the banding
    # self-join reads it from two aliases plus the dup-group filter
    # (exchange reuse doesn't fire across aliased self-joins). Eager
    # pin over lazy persist: re-measured in r12, the lazy
    # cache race + lineage re-analysis cost ~2x the extra
    # materialization jobs (the r5-era "lazy wins" measurement did not
    # hold at the current operator shape).
    reps = (
        sigs.groupBy("_gfp")
        .agg(
            F.min(id_col).alias("_rep"),
            F.count("*").alias("_n"),
            *[F.first(c).alias(c) for c in sig_cols],
        )
        .transform(pin)
    )
    band_arr = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(num_bands)
        ]
    )
    banded = reps.select(
        "_gfp", F.col("_rep"), F.posexplode(band_arr).alias("band_id", "band_key")
    )
    if bucket_cap is not None:
        from pyspark.sql import Window

        wspec = Window.partitionBy("band_id", "band_key")
        # ONE window computes both the bucket size and the hub (min by
        # (_rep, _gfp) via struct ordering); its hash-by-bucket
        # partitioning is exactly what the self-join requires, so no
        # additional corpus-sized exchange appears.
        # The windowed relation feeds three consumers (both self-join
        # sides + the star path); eager pin so the window
        # subplan runs once, not thrice (same r12 measurement as sigs/
        # reps above). num_bands rows of a few longs per distinct
        # signature — bounded.
        banded = banded.select(
            "*",
            F.count("*").over(wspec).alias("_bn"),
            F.min(F.struct("_rep", "_gfp")).over(wspec).alias("_hub"),
        ).transform(pin)
        small = banded.filter(F.col("_bn") <= bucket_cap)
        big = banded.filter(F.col("_bn") > bucket_cap)
        star_pairs = big.filter(F.col("_gfp") != F.col("_hub._gfp")).select(
            F.col("_hub._gfp").alias("_gfp_a"), F.col("_gfp").alias("_gfp_b")
        )
    else:
        small = banded
        star_pairs = None
    a = small.alias("a")
    b = small.alias("b")
    # group-level candidate pairs (distinct signatures sharing a band);
    # pair order is canonical on the groups' reps (_rep is a global
    # per-signature property), so small-bucket and star pairs dedupe
    # cleanly in one pass.
    grp_pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a._rep") < F.col("b._rep")),
    ).select(F.col("a._gfp").alias("_gfp_a"), F.col("b._gfp").alias("_gfp_b"))
    if star_pairs is not None:
        grp_pairs = grp_pairs.unionByName(star_pairs)
    grp_pairs = grp_pairs.dropDuplicates(["_gfp_a", "_gfp_b"])
    # cross-group doc pairs: candidate-group pairs are rare, so both
    # expansion joins are candidate-sized (grp_pairs broadcastable)
    ma = members.select(F.col(id_col).alias("_ida"), F.col("_gfp").alias("_gfp_a"))
    mb = members.select(F.col(id_col).alias("_idb"), F.col("_gfp").alias("_gfp_b"))
    cross = (
        grp_pairs.join(ma, "_gfp_a")
        .join(mb, "_gfp_b")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
        )
    )
    # within-group doc pairs: identical signatures share every band —
    # always candidates; enumerated directly (no banding amplification).
    # Restricted FIRST to groups that actually have >1 member (the _n
    # count rides on the reps aggregation for free): the restriction
    # join's build side is the tiny dup-group list, so the common
    # no-duplicates corpus pays nothing here instead of a corpus-wide
    # self-join on the signature fingerprint.
    dup_groups = reps.filter(F.col("_n") > 1).select("_gfp")
    dup_members = members.join(dup_groups, "_gfp")
    wa = dup_members.select(F.col("_gfp"), F.col(id_col).alias("_ida"))
    wb = dup_members.select(F.col("_gfp"), F.col(id_col).alias("_idb"))
    within = (
        wa.join(wb, "_gfp")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(F.col("_ida").alias("doc_a"), F.col("_idb").alias("doc_b"))
    )
    # disjoint by construction (cross: different groups; within: same),
    # and each unordered pair appears exactly once — no dropDuplicates.
    cand = cross.unionByName(within)
    # cand feeds three branches (both id sides and the verify join);
    # the eager pin stops the banding join from re-running per branch.
    # Candidate pairs are orders of magnitude fewer than the corpus —
    # near-identical docs are rare by mass — so this pin is tiny.
    cand = pin(cand)
    # Exact-Jaccard verification over candidate docs only: the shingle
    # arrays are recomputed just for ids surviving banding (the semi
    # join is on the id column, so Catalyst defers the shingle
    # projection to after the filter), and both verification joins are
    # broadcast-sized.
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    cand_sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingle_array(col).alias("sh"))
        .transform(pin)  # read by both verify sides (r12: eager pin)
    )
    sa = cand_sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = cand_sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(common / (F.size("sh_a") + F.size("sh_b") - common), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted
    index: explode distinct shingles, self-join on shingle, count
    common shingles per pair, Jaccard = common / (|A|+|B|-common).

    This is the exact baseline the LSH path approximates. At scale the
    shingle join is the hot spot — standard mitigations (prefix
    filtering, dropping ultra-frequent shingles) apply before the
    join; fixture corpora don't need them.
    """
    from pyspark.sql.window import Window

    sr = shingle_rows(df, col, id_col)
    ex = sr.select(
        F.col(id_col),
        F.count("*").over(Window.partitionBy(id_col)).alias("n_sh"),
        F.col("s"),
    )
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    return (
        common.withColumn(
            "jaccard", F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6)
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri/
    Ganti/Kaushik 2006, the standard set-similarity-join technique) —
    the SAME output as :func:`ngram_jaccard_pairs` at the same
    threshold, with the inverted-index join bounded:

    Order every document's shingles by ascending global document
    frequency (rarest first; ties on the shingle itself — any shared
    total order works). For threshold τ, only the first
    ``|S| − ⌈τ·|S|⌉ + 1`` shingles (the PREFIX) join. LOSSLESS for
    J ≥ τ: if two docs share no prefix element, every common shingle
    lies in both suffixes, so |A∩B| ≤ ⌈τ·|A|⌉ − 1 < τ·|A| ≤ τ·|A∪B|
    — their Jaccard is strictly below τ. Candidates then verify with
    the full shingle arrays (array_intersect), exactly like the LSH
    path's verification.

    Why it scales where the plain inverted join doesn't: the join
    fan-out of a shingle is quadratic in its posting-list length, and
    natural corpora have power-law shingle frequencies — the plain
    join's cost is dominated by precisely the frequent shingles the
    prefix order pushes OUT of the probe set (a shingle in half the
    corpus at τ=0.5 joins only for docs where it ranks among the
    rarest ~half of their shingles). At 100 TB this is the difference
    between a join bounded by rare-token posting lists and one
    quadratic in the hottest boilerplate string's frequency.

    Exchanges: shingle df count (hash-sized), df join-back + per-doc
    rank window (token-scale, the one inherent exchange), prefix
    self-join (reduced), verification (candidate-sized).
    """
    from pyspark.sql.window import Window

    sr = shingle_rows(df, col, id_col)
    sdf = sr.groupBy("s").agg(F.count("*").alias("_df"))
    ranked = (
        sr.join(sdf, "s")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("_df", "s")
            ),
        )
        .withColumn("_n", F.count("*").over(Window.partitionBy(id_col)))
    )
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n") - F.ceil(F.lit(min_jaccard) * F.col("_n")) + 1
    ).select(id_col, "s")

    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    cand_sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingle_array(col).alias("sh"))
        .persist()
    )
    sa = cand_sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = cand_sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(common / (F.size("sh_a") + F.size("sh_b") - common), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 60  # md5_long yields 60 usable bits


def simhash(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", fan_out: bool = True
) -> DataFrame:
    """SimHash document signatures: per token occurrence, each of the
    60 hash bits votes +1/-1; bit i of the signature is set when the
    vote is positive.

    Plan shape: tokens → md5_long (one digest per token) → explode →
    60 branchless bit-count sums per document (``sum((h>>i)&1)``; bit
    i of the signature is set when ones > n/2, i.e. the ±1 vote is
    positive). The sums are whole-stage-codegen'd and partially
    aggregated map-side (the shuffle carries 61 longs per doc, not
    tokens); dropping the per-bit when/otherwise branch from the
    aggregate measured ~2.3x faster than conditional ±1 sums — an
    order of magnitude over per-row higher-order ``aggregate()``
    folds, whose lambdas run interpreted per element. Bit-count sums
    are order-independent integers, so the signature is deterministic
    under any partitioning — which is also what makes the ``fan_out``
    re-split of an under-partitioned input safe (see
    operators/partitioning.py).
    """
    if fan_out:
        from kafka_flink_spark.operators.partitioning import fan_out_narrow

        df = fan_out_narrow(df)
    # md5 AFTER the explode: as a post-explode column expression the
    # digest runs inside whole-stage codegen rather than interpreted
    # inside a transform() lambda. Measured ~10% on this pass at the
    # bench corpus — the dominant cost is the 60 vote sums, which were
    # already codegen — but it keeps the hot path lambda-free on
    # principle (the t23 lesson).
    toks = F.split(F.col(col), " ")
    exploded = df.select(
        F.col(id_col), F.explode(toks).alias("_t")
    ).select(F.col(id_col), md5_long("_t").alias("h"))
    ones = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"o{i}")
        for i in range(SIMHASH_BITS)
    ]
    voted = exploded.groupBy(id_col).agg(F.count("*").alias("_n"), *ones)
    sig = reduce(
        lambda x, y: x + y,
        [
            F.when(
                F.col(f"o{i}") * 2 > F.col("_n"),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_BITS)
        ],
    )
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
    num_chunks: int | None = None,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """SimHash near-dup pairs via chunk banding (the pigeonhole trick):
    split the 60-bit signature into ``num_chunks`` disjoint bit ranges;
    a pair with hamming ≤ max_hamming has at most max_hamming differing
    bits, so with num_chunks > max_hamming at least one chunk is
    bit-identical — candidate generation by equi-join on equal chunks
    has FULL recall at the max_hamming threshold. Join on equal chunk,
    verify exact hamming with bit_count(xor).

    ``num_chunks`` defaults to ``max_hamming + 1`` (the smallest count
    that preserves the guarantee); passing fewer raises, since it would
    silently miss pairs between hamming num_chunks and max_hamming.
    Chunk widths differ by at most one bit when 60 % num_chunks != 0.

    ``bucket_cap`` (same rationale as minhash_lsh_pairs): a chunk
    bucket holding > cap DISTINCT signatures — a boilerplate family
    with near-identical-but-distinct simhashes — routes to a hub STAR
    (members pair with the bucket's min-rep signature, m−1 linear join
    rows) instead of all-pairs. Exactly-once emission needs no dedup
    shuffle: a matching pair's bucket at its FIRST matching chunk is
    either small (all-pairs path emits there, star's big-filter
    excludes) or big (star emits iff one side is that bucket's hub) —
    both paths keep only first-match rows, so the union is disjoint.
    Recall tradeoff documented: in an oversized bucket only hub-
    incident pairs survive (cluster connectivity through the hub is
    preserved; non-hub member pairs are dropped unless they first-
    match in a small bucket). ``bucket_cap=None`` disables the cap.
    """
    # Validate banding parameters BEFORE the pin below — an invalid
    # num_chunks raising after materialization would have burned a
    # checkpoint job for nothing (ADVICE r5).
    if num_chunks is not None and num_chunks <= max_hamming:
        raise ValueError(
            f"num_chunks ({num_chunks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    # Signatures feed BOTH sides of the bucket self-join; without
    # pinning Spark recomputes the 60-vote aggregation per side
    # (exchange reuse doesn't fire across the aliased self-join).
    # Eager pin over the earlier lazy persist: re-measured
    # in r12 (see minhash_lsh_pairs), the cache race + lineage
    # re-analysis cost more than the one materialization job. One
    # long per doc — bounded.
    sigs = pin(simhash(df, col, id_col))
    return hamming_near_pairs(
        sigs,
        id_col=id_col,
        max_hamming=max_hamming,
        num_chunks=num_chunks,
        bucket_cap=bucket_cap,
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 6,
    num_chunks: int | None = None,
    bucket_cap: int | None = 512,
) -> DataFrame:
    """Chunk-banded near-pair join over ANY 60-bit signature column —
    the engine behind simhash_near_pairs (text) and the perceptual-
    hash media dedup (m8): pigeonhole candidate generation on
    num_chunks disjoint bit ranges (full recall at max_hamming when
    num_chunks > max_hamming), exact bit_count(xor) verification,
    distinct-signature collapse, and the optional hot-bucket hub-star
    cap — all exactly as documented on simhash_near_pairs. ``sigs``
    must hold (id_col, sig_col) with one row per entity; callers
    should pass a persisted relation (it feeds both self-join sides).
    Output pair columns are named doc_a/doc_b regardless of domain.
    """
    if num_chunks is None:
        num_chunks = max_hamming + 1
    if num_chunks <= max_hamming:
        raise ValueError(
            f"num_chunks ({num_chunks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    if sig_col != "simhash":
        sigs = sigs.select(F.col(id_col), F.col(sig_col).alias("simhash"))
    # --- bucket-size guard: collapse identical signatures -----------
    # Same rationale as minhash_lsh_pairs: a boilerplate mega-cluster
    # shares one simhash value and would make every chunk bucket
    # quadratic on a hot key. Chunk-join one representative per
    # DISTINCT signature; expand group pairs back to doc pairs after.
    # Bucket size becomes |distinct signatures per chunk key|.
    reps = (
        sigs.groupBy("simhash")
        .agg(F.min(id_col).alias("_rep"), F.count("*").alias("_n"))
        .transform(pin)  # banding + dup-group consumers (r12 pin)
    )
    base, extra = divmod(SIMHASH_BITS, num_chunks)
    chunk_cols, start = [], 0
    for c in range(num_chunks):
        width = base + (1 if c < extra else 0)
        mask = (1 << width) - 1
        chunk_cols.append(F.shiftright("simhash", start).bitwiseAND(F.lit(mask)))
        start += width
    chunks = F.array(*chunk_cols)
    banded = reps.select(
        "_rep", "simhash", F.posexplode(chunks).alias("chunk_id", "chunk_key")
    )
    # A pair sharing several identical chunks matches once per chunk;
    # instead of shuffling the (potentially large) candidate relation
    # through dropDuplicates, keep only the row whose chunk_id is the
    # pair's FIRST matching chunk — computable per-row from the two
    # signatures' xor (chunk c matches iff xor has no set bit in c's
    # range), so the dedup is a codegen'd filter with zero exchange.
    starts = []
    s = 0
    for c in range(num_chunks):
        width = base + (1 if c < extra else 0)
        starts.append((c, s, (1 << width) - 1))
        s += width

    def first_match(xor_col: Column) -> Column:
        fm = F.lit(None).cast("int")
        for c, s, mask in reversed(starts):
            fm = F.when(
                F.shiftright(xor_col, s).bitwiseAND(F.lit(mask)) == 0, F.lit(c)
            ).otherwise(fm)
        return fm

    if bucket_cap is not None:
        from pyspark.sql import Window

        wspec = Window.partitionBy("chunk_id", "chunk_key")
        # Three consumers (both self-join sides + star) — eager pin so
        # the window subplan runs once; num_chunks rows of three longs
        # per distinct signature.
        banded = banded.select(
            "*",
            F.count("*").over(wspec).alias("_bn"),
            F.min(F.struct("_rep", "simhash")).over(wspec).alias("_hub"),
        ).transform(pin)
        small = banded.filter(F.col("_bn") <= bucket_cap)
        star_xor = F.col("simhash").bitwiseXOR(F.col("_hub.simhash"))
        star_pairs = (
            banded.filter(F.col("_bn") > bucket_cap)
            .filter(F.col("simhash") != F.col("_hub.simhash"))
            .filter(F.col("chunk_id") == first_match(star_xor))
            .select(
                F.col("_hub.simhash").alias("_sig_a"),
                F.col("simhash").alias("_sig_b"),
                F.bit_count(star_xor).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
        )
    else:
        small = banded
        star_pairs = None
    a, b = small.alias("a"), small.alias("b")
    joined = a.join(
        b,
        (F.col("a.chunk_id") == F.col("b.chunk_id"))
        & (F.col("a.chunk_key") == F.col("b.chunk_key"))
        & (F.col("a._rep") < F.col("b._rep")),
    )
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # group-level near pairs (distinct signatures within max_hamming);
    # signatures differ between groups, so hamming ≥ 1 here and the
    # group-pair relation is canonical on (_rep_a < _rep_b) — the star
    # hub is its bucket's rep-minimum, so star pairs share that order.
    grp_pairs = (
        joined.filter(F.col("a.chunk_id") == first_match(xor))
        .select(
            F.col("a.simhash").alias("_sig_a"),
            F.col("b.simhash").alias("_sig_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if star_pairs is not None:
        grp_pairs = grp_pairs.unionByName(star_pairs)
    # expand to doc pairs: cross-group via the two member joins
    # (candidate-sized — grp_pairs is broadcastable), within-group
    # pairs (hamming 0) enumerated directly from the member mapping.
    ma = sigs.select(F.col(id_col).alias("_ida"), F.col("simhash").alias("_sig_a"))
    mb = sigs.select(F.col(id_col).alias("_idb"), F.col("simhash").alias("_sig_b"))
    cross = (
        grp_pairs.join(ma, "_sig_a")
        .join(mb, "_sig_b")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            "hamming",
        )
    )
    # Within-group pairs are restricted FIRST to signatures with >1
    # member (the _n count rides on the reps aggregation for free): the
    # restriction join's build side is the tiny dup-signature list, so
    # the common no-duplicates corpus pays nothing here instead of a
    # corpus-wide self-join on the signature.
    dup_sigs = reps.filter(F.col("_n") > 1).select("simhash")
    dup_members = sigs.select(id_col, "simhash").join(dup_sigs, "simhash")
    wa = dup_members.select("simhash", F.col(id_col).alias("_ida"))
    wb = dup_members.select("simhash", F.col(id_col).alias("_idb"))
    within = (
        wa.join(wb, "simhash")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_ida").alias("doc_a"),
            F.col("_idb").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair relation: every doc
    gets a ``cluster_id`` = the smallest doc id reachable through the
    pair graph (singletons cluster to themselves). The step AFTER pair
    generation in every dedup pipeline — keep one canonical doc per
    cluster.

    Distributed min-label propagation with pointer doubling (the
    Pregel / hash-to-min pattern): each round every node adopts the
    smallest label among itself and its neighbors, then labels jump to
    their label's label — so convergence takes O(log diameter) rounds,
    not diameter (a 1000-link chain resolves in ~10 rounds). Each
    round's result is pinned (``operators.iterative.pin``): without
    truncation the logical plan doubles per round and Catalyst
    re-analysis, not the data, becomes the cost. The driver reads only
    a changed-count scalar per round. Iterative and therefore not
    single-SQL-expressible — the oracle uses a recursive CTE.

    ``broadcast_labels`` (None = auto below graph.BROADCAST_NODE_LIMIT
    ids): the label relation is node-sized, so below the limit it
    broadcasts into each round's joins and the (typically much larger)
    pair/edge relation is never re-shuffled after its one pinning
    materialization; above it the loop falls back to shuffle joins.
    Values identical either way — physical join strategy only.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .transform(pin)  # edges re-join every round; compute the pair generator once
    )
    labels = ids.select(
        F.col(id_col), F.col(id_col).alias("cluster_id")
    ).transform(pin)
    init_labels = labels
    n_ids = init_labels.count()
    if broadcast_labels is None:
        from kafka_flink_spark.operators.graph import BROADCAST_NODE_LIMIT

        # The label relation is NOT bounded by n_ids: pair endpoints
        # absent from ``ids`` enter the loop as relay nodes (see the
        # LEFT-join note below), so auto-broadcast must budget for the
        # superset ids ∪ endpoints. Tiered decision so the common
        # cases stay one cheap job: (1) n_ids alone over the limit →
        # never broadcast, no job; (2) n_ids + |sym edges| within the
        # limit → broadcast (|endpoints| <= |sym edges|, every
        # endpoint appears as a src; shuffle-free count over the
        # pinned edge relation); (3) only in the ambiguous band —
        # few ids, huge edge relation, e.g. a dense graph whose
        # endpoint set may still be small — pay one distinct-count
        # job for the tight bound.
        if n_ids > BROADCAST_NODE_LIMIT:
            broadcast_labels = False
        elif n_ids + edges.count() <= BROADCAST_NODE_LIMIT:
            broadcast_labels = True
        else:
            n_endpoints = edges.select("src").distinct().count()
            broadcast_labels = (n_ids + n_endpoints) <= BROADCAST_NODE_LIMIT
    _bc = F.broadcast if broadcast_labels else (lambda df: df)
    from pyspark.sql import Observation

    for it in range(max_iterations):
        lb = _bc(labels)
        neighbor = edges.join(lb, edges.dst == lb[id_col]).select(
            F.col("src").alias(id_col),
            "cluster_id",
            F.lit(None).cast(labels.schema["cluster_id"].dataType).alias("_old"),
        )
        # The previous round's label rides the SELF row of the union
        # (each id contributes exactly one labels row, so max(_old)
        # recovers it per group) — no third join/broadcast needed to
        # attach it. Edge endpoints absent from ``ids`` enter the
        # label relation as RELAY nodes (they carry connectivity
        # between listed nodes); a relay's first appearance has only
        # neighbor rows, so its _old aggregates to NULL and it counts
        # as changed via the null-safe comparison below.
        propagated = (
            labels.withColumn("_old", F.col("cluster_id"))
            .unionByName(neighbor)
            .groupBy(id_col)
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.max("_old").alias("_old"),
            )
        )
        # Pointer doubling: follow cluster_id -> that node's cluster_id.
        parent = propagated.select(
            F.col(id_col).alias("_pid"), F.col("cluster_id").alias("_pcluster")
        )
        # The convergence scalar is an OBSERVATION on the one
        # materialized plan (fires when the checkpoint action runs), so
        # each round costs exactly one job — the r11-era separate
        # filter+count job over the checkpointed rows is gone (r12;
        # at local-mode job overhead that was ~20% of the loop's wall).
        obs = Observation()  # unnamed: unique id per round/run
        new_labels = (
            propagated.join(
                _bc(parent), propagated.cluster_id == F.col("_pid"), "left"
            )
            .select(
                F.col(id_col),
                F.coalesce(F.col("_pcluster"), F.col("cluster_id")).alias("cluster_id"),
                "_old",
            )
            .observe(
                obs,
                F.sum(
                    (~F.col("cluster_id").eqNullSafe(F.col("_old"))).cast("long")
                ).alias("n"),
            )
            .transform(pin)
        )
        changed = obs.get["n"] or 0
        labels = new_labels.select(id_col, "cluster_id")
        if changed == 0:
            break
    # Relay nodes served their purpose inside the loop; the contract
    # is one row per REQUESTED id. The semi-join runs only when relays
    # actually appeared (label rows > requested ids) — in the common
    # nodes ⊇ endpoints case both counts are cheap scans of
    # checkpointed data and the join job is skipped entirely.
    if labels.count() == n_ids:
        return labels.select(id_col, "cluster_id")
    return labels.join(init_labels.select(id_col), id_col, "left_semi").select(
        id_col, "cluster_id"
    )


def incremental_dedup(
    existing: DataFrame,
    new: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """Incremental near-dup screening of a NEW batch against an
    EXISTING corpus — the production shape of dedup (today's crawl vs
    the training set): every new doc is classified as

    * ``dup_of_existing`` — verified near-dup of an existing doc
      (partner = smallest such existing id),
    * ``dup_within_batch`` — no existing match, but a verified
      near-dup of a smaller-id doc in the same batch,
    * ``novel`` — neither.

    Scale shape: both sides get the narrow signature pass; the
    cross-relation band join shuffles (id, band_key) rows only and —
    unlike the self-join in ``minhash_lsh_pairs`` — its left side is
    batch-sized, so the per-day cost is O(batch + matched buckets),
    not O(corpus). In production the EXISTING side's signatures and
    band keys are computed once and stored with the corpus (this
    function recomputes them so it stays a pure function of its
    inputs; feed it a signature table to skip that). Verification
    re-shingles only candidate docs behind semi joins.
    """
    rows_per_band = num_perms // num_bands
    sig_e = minhash_signatures(existing, col, id_col, num_perms)
    sig_n = minhash_signatures(new, col, id_col, num_perms)
    band_arr = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(num_bands)
        ]
    )

    def banded(sig: DataFrame, alias: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(alias),
            F.posexplode(band_arr).alias("band_id", "band_key"),
        )

    bn = pin(banded(sig_n, "new_id"))  # 2 join uses (r12)
    be = banded(sig_e, "_pid")
    cand_e = (
        bn.join(be, ["band_id", "band_key"])
        .select("new_id", F.col("_pid").alias("partner"), F.lit(0).alias("ptype"))
        .dropDuplicates(["new_id", "partner"])
    )
    bn2 = bn.select(
        F.col("new_id").alias("_pid"), "band_id", "band_key"
    )
    cand_n = (
        bn.join(bn2, ["band_id", "band_key"])
        .filter(F.col("_pid") < F.col("new_id"))
        .select("new_id", F.col("_pid").alias("partner"), F.lit(1).alias("ptype"))
        .dropDuplicates(["new_id", "partner"])
    )
    cand = pin(cand_e.unionByName(cand_n))  # 3 consumers (r12)

    # verification shingles only for docs appearing in candidates
    all_docs = existing.unionByName(new)
    cand_ids = (
        cand.select(F.col("new_id").alias(id_col))
        .unionByName(cand.select(F.col("partner").alias(id_col)))
        .distinct()
    )
    cand_sh = (
        all_docs.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingle_array(col).alias("sh"))
        .transform(pin)
    )
    sa = cand_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_a"))
    sb = cand_sh.select(F.col(id_col).alias("partner"), F.col("sh").alias("sh_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(sa, "new_id")
        .join(sb, "partner")
        .withColumn(
            "jaccard",
            F.round(common / (F.size("sh_a") + F.size("sh_b") - common), 6),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    # best partner per new doc: existing beats within-batch, then min id
    best = verified.groupBy("new_id").agg(
        F.min_by(
            F.struct("ptype", "partner", "jaccard"),
            F.struct("ptype", "partner"),
        ).alias("b")
    )
    return (
        new.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.when(F.col("b.ptype") == 0, F.lit("dup_of_existing"))
            .when(F.col("b.ptype") == 1, F.lit("dup_within_batch"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.col("b.partner").alias("partner"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_containment: float = 0.8,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs — Broder's (1997) second
    resemblance measure: C = |A∩B| / min(|A|,|B|), the signal for
    PARTIAL duplication (one document embedded in a larger one —
    quotation, boilerplate wrapping, page-with-extra-chrome) that
    Jaccard structurally misses: a 100-shingle doc fully contained in
    a 1000-shingle doc has J≈0.1 but C=1.0. Same inverted-index
    dataflow as :func:`ngram_jaccard_pairs` (and the same prefix/
    frequency mitigations apply at scale); only the denominator
    algebra differs, so both measures ride one shingle join when run
    together. Emits unordered pairs with both containment and
    jaccard, thresholded on containment.
    """
    from pyspark.sql.window import Window

    sr = shingle_rows(df, col, id_col)
    ex = sr.select(
        F.col(id_col),
        F.count("*").over(Window.partitionBy(id_col)).alias("n_sh"),
        F.col("s"),
    )
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    return (
        common.withColumn(
            "containment",
            F.round(F.col("common") / F.least(F.col("na"), F.col("nb")), 6),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .filter(F.col("containment") >= min_containment)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )
