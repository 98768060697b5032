"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, and
document fingerprinting.

Scale design: every operator here is a *narrow* per-row projection
built from native/higher-order column expressions (split, transform,
filter, aggregate, regexp_count, md5) — zero shuffles, zero Python
UDFs, fully pipelined with the parquet scan. On 100 TB of documents
these run at scan speed; only downstream grouping (dedup, per-lang
stats) shuffles, and that shuffle carries the small derived columns,
not the raw text, when callers select narrowly.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_spark.functions.hashing import md5_long
from kafka_flink_spark.operators.iterative import pin

# Tiny per-language function-word profiles for the n-gram/stopword
# language-ID heuristic. Deterministic, oracle-reproducible.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("a", "the", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "en"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "不"),
}
# Deterministic preference order for score ties.
LANG_ORDER = ("en", "de", "es", "fr", "zh")

# BPE-ish word/number/punct segmentation for token counting: runs of
# letters, runs of digits, or single non-space symbols.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    return F.split(F.col(col), " ")


def token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex segments
    (letters / digit runs / punctuation symbols)."""
    return df.withColumns(
        {
            "n_words": F.size(tokens(col)).cast("long"),
            "n_tokens": F.regexp_count(F.col(col), F.lit(TOKEN_REGEX)).cast("long"),
        }
    )


def _stopword_hits(lang: str, col: str = "text") -> Column:
    """Count of tokens that are function words of ``lang``."""
    arr = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t)))


def lang_scores(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-language stopword-ratio scores + predicted language.

    score_<lang> = |tokens ∩ profile(lang)| / |tokens|; prediction is
    the max score with ties broken by LANG_ORDER. A real system swaps
    the profiles for character-n-gram models; the dataflow (narrow
    projection, no shuffle) is identical.
    """
    n = F.size(tokens(col))
    out = df
    for lang in LANG_ORDER:
        out = out.withColumn(
            f"score_{lang}",
            F.round(_stopword_hits(lang, col) / F.greatest(n, F.lit(1)), 6),
        )
    # CASE chain implements argmax with the deterministic tie order.
    pred = None
    for i, lang in enumerate(LANG_ORDER):
        rest = LANG_ORDER[i + 1 :]
        cond = None
        for other in rest:
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if pred is None:
            pred = F.when(cond, branch) if cond is not None else branch
        else:
            pred = pred.when(cond, branch) if cond is not None else pred.otherwise(branch)
    return out.withColumn("pred_lang", pred)


def quality_scores(df: DataFrame, col: str = "text") -> DataFrame:
    """Heuristic document-quality scoring (length, punctuation ratio,
    mean word length, stopword ratio) — the standard pre-training
    filter features, as one codegen'd projection."""
    n_words = F.size(tokens(col))
    n_chars = F.length(F.col(col))
    mean_word_len = (n_chars - (n_words - 1)) / F.greatest(n_words, F.lit(1))
    punct_ratio = F.regexp_count(F.col(col), F.lit("[^A-Za-z0-9 ]")) / F.greatest(
        n_chars, F.lit(1)
    )
    stop_ratio = _stopword_hits("en", col) / F.greatest(n_words, F.lit(1))
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
    )
    return df.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round(mean_word_len, 6),
            "punct_ratio": F.round(punct_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "quality_score": F.round(score, 6),
        }
    )


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: md5 hex of the normalized
    text (lowercased, trimmed) + a 60-bit integer form for compact
    storage/joins. Exact-dedup keys derive from this."""
    norm = F.lower(F.trim(F.col(col)))
    return df.withColumns(
        {
            "fp_md5": F.md5(norm),
            "fp_long": md5_long(norm),
        }
    )


def duckdb_lang_score(lang: str, text_expr: str = "text") -> str:
    """Oracle SQL mirroring one language score."""
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"round(len(list_filter(string_split({text_expr}, ' '), "
        f"t -> list_contains([{words}], t))) * 1.0 / "
        f"greatest(len(string_split({text_expr}, ' ')), 1), 6)"
    )


def chunk_documents(
    df: DataFrame,
    col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into overlapping word-window chunks — the
    standard pre-embedding / pre-tokenization step of a training-data
    pipeline (context-window packing, RAG indexing).

    Chunk *k* covers tokens ``[k*step, k*step + chunk_size)`` with
    ``step = chunk_size - overlap``. Pure narrow expressions:
    ``split`` → ``explode(sequence(...))`` over chunk starts →
    ``slice`` + ``array_join``. One row fans out to
    ``ceil(n_tokens/step)`` rows with no shuffle — at 100 TB the
    explode pipelines with the scan, and output partition sizes grow
    by the fan-out factor only (resizable downstream with AQE
    coalescing or an explicit repartition before a wide sink).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    toks = F.split(F.col(col), " ")
    return (
        df.withColumn("_toks", toks)
        .withColumn(
            "chunk_start",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size("_toks") - 1, F.lit(0)),
                    F.lit(step),
                )
            ),
        )
        .select(
            *df.columns,
            (F.col("chunk_start") / step).cast("long").alias("chunk_no"),
            F.array_join(
                F.slice("_toks", F.col("chunk_start") + 1, chunk_size), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_size), F.size("_toks") - F.col("chunk_start")
            ).cast("long").alias("chunk_tokens"),
        )
    )


def hash_sample(
    df: DataFrame,
    rates: dict[str, int],
    default_rate: int,
    key_col: str = "doc_id",
    strata_col: str = "source",
    denom: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling — the mixture-weighting
    primitive of a training-data pipeline (oversample curated sources,
    downsample web crawl). A row survives iff
    ``md5_60bit(key) % denom < rate[stratum]``: no RNG state, no seed
    coordination across executors, reproducible across engines and
    runs, and stable under re-partitioning — properties
    ``df.sample()`` cannot give. Narrow (zero-shuffle) filter.
    """
    h = md5_long(F.col(key_col).cast("string"))
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    return df.filter(h % denom < rate)


def tfidf_top_terms(
    df: DataFrame, k: int = 3, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Ranking compares the integer pair (tf DESC, df ASC) with the token
    string as the final tie-break — fully deterministic across engines
    (the float score is display-only, so last-ulp log() differences
    between libm implementations can never flip a rank). Plan shape:
    explode → per-(doc, token) count (shuffle carries tokens, not
    documents) → per-token doc frequency as a window over it → top-k
    row_number. At 100 TB the heavy relation is (doc, token, tf),
    ~tokens-sized; raw text never crosses an exchange.
    """
    from pyspark.sql.window import Window

    n_docs = df.select(F.count("*").alias("n_docs"))
    tf = (
        df.select(F.col(id_col), F.explode(tokens(col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    with_df = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("token")).cast("long")
    )
    ranked = with_df.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(
                F.desc("tf"), F.asc("df"), F.asc("token")
            )
        ),
    ).filter(F.col("rank") <= k)
    return ranked.crossJoin(F.broadcast(n_docs)).select(
        id_col,
        "token",
        F.col("tf").cast("long").alias("tf"),
        "df",
        F.col("rank").cast("int").alias("rank"),
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
    )


def bigram_counts(df: DataFrame, top_n: int = 50, col: str = "text") -> DataFrame:
    """Corpus-level word-bigram counts, top-N — the n-gram frequency
    primitive behind contamination checks and corpus statistics.
    Bigrams are derived per row (narrow), partially aggregated
    map-side, and only (bigram, count) pairs shuffle; the top-N plans
    as TakeOrderedAndProject (no global sort).
    """
    toks = tokens(col)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array())
    return (
        df.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(top_n)
    )


def vocab_coverage(df: DataFrame, col: str = "text") -> DataFrame:
    """Corpus vocabulary statistics: per-token counts, frequency rank,
    and cumulative token-coverage fraction — the Zipf table behind
    tokenizer-vocabulary sizing ("how many types cover 95% of
    tokens?") and OOV-rate estimation.

    Plan: explode → map-side-combined count per token (shuffle carries
    (token, count), vocabulary-sized) → one single-partition window
    over the *vocabulary* (tiny relation — the corpus itself never
    sorts) for rank and running sum. Fractions are ratios of exact
    BIGINTs (single IEEE division, engine-identical bits — no
    rounding needed).
    """
    from pyspark.sql.window import Window

    counts = (
        df.select(F.explode(tokens(col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("total_tokens"))
    w = (
        Window.orderBy(F.desc("n"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        counts.withColumn("rank", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("token"))))
        .withColumn("cum_tokens", F.sum("n").over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "n",
            F.col("rank").cast("int").alias("rank"),
            "cum_tokens",
            (F.col("cum_tokens") / F.col("total_tokens")).alias("cum_frac"),
        )
    )


def repetition_signals(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document repetition signals — the Gopher-style quality
    filters that catch boilerplate and degenerate (looping) text:

    * ``dup_word_frac``  — fraction of word occurrences that are
      repeats of an earlier word: ``1 - distinct/total``. Narrow
      (``array_distinct``), computed at scan speed.
    * ``top_word_frac``  — most frequent word's share of all words.
    * ``top_bigram_frac`` — most frequent bigram's share of all
      bigrams (high values = looping text).

    The mode (most-frequent-gram) computations explode to (doc, gram)
    counts and reduce back per doc — two map-side-combined shuffles
    carrying counts keyed by (doc, gram-hash-sized) rows, never raw
    text. All output fractions are exact-integer ratios (one IEEE
    division — engine-identical, no rounding). The per-doc gram
    explosion is CPU-bound, so an under-partitioned input re-splits
    first (fan_out_narrow; no-op on a parallel scan).
    """
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    toks = tokens(col)
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    uni = (
        base.select(id_col, F.explode("_toks").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("long").alias("top_word_n"))
    )
    grams = F.when(
        F.size(F.col("_toks")) >= 2,
        F.transform(
            F.slice(F.col("_toks"), 1, F.size(F.col("_toks")) - 1),
            lambda t, i: F.concat_ws(" ", t, F.element_at(F.col("_toks"), i + 2)),
        ),
    ).otherwise(F.array())
    bi = (
        base.select(id_col, F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("long").alias("top_bigram_n"))
    )
    return (
        base.drop("_toks")
        .join(uni, id_col, "left")
        .join(bi, id_col, "left")
        .select(
            id_col,
            "n_words",
            ((F.col("n_words") - F.col("n_distinct")) / F.greatest("n_words", F.lit(1))).alias(
                "dup_word_frac"
            ),
            (F.coalesce("top_word_n", F.lit(0)) / F.greatest("n_words", F.lit(1))).alias(
                "top_word_frac"
            ),
            (
                F.coalesce("top_bigram_n", F.lit(0))
                / F.greatest(F.col("n_words") - 1, F.lit(1))
            ).alias("top_bigram_frac"),
        )
    )


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    n: int = 5,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``n``-gram with a held-out benchmark/eval set — the standard
    pre-training hygiene pass (the reference has no analog; this is
    LLM-pipeline surface).

    Per flagged doc: how many of its distinct n-grams appear anywhere
    in the benchmark (``n_shared_grams``), how many benchmark docs it
    collides with (``n_bench_docs``), and the contaminated fraction of
    its n-grams (exact-integer ratio).

    Scale design: n-grams are md5-hashed to 60-bit longs **before**
    the shuffle (8-byte keys, raw text never crosses an exchange), and
    the benchmark side of the join is orders of magnitude smaller than
    the corpus — at 100 TB the distinct benchmark-gram set broadcasts,
    making the whole pass one narrow scan + broadcast semi-join shape.
    Gram construction is explode(sequence) + slice + array_join —
    whole-stage-codegen'd expressions, not higher-order lambdas (which
    Spark interprets per element: measured ~5x slower for gram
    derivation); per-doc gram dedup happens in the distinct-count
    aggregates rather than per-row array_distinct.
    """
    def doc_grams(frame: DataFrame) -> DataFrame:
        toks = tokens(col)
        return (
            frame.select(F.col(id_col), toks.alias("_toks"))
            .filter(F.size("_toks") >= n)
            .select(
                id_col,
                "_toks",
                F.explode(
                    F.sequence(F.lit(1), F.size("_toks") - (n - 1))
                ).alias("_pos"),
            )
            .select(
                id_col,
                md5_long(
                    F.array_join(F.slice("_toks", F.col("_pos"), n), " ")
                ).alias("gram_h"),
            )
        )

    train_g = doc_grams(df)
    bench_g = doc_grams(bench).select(
        F.col(id_col).alias("bench_id"), F.col("gram_h")
    )
    totals = train_g.groupBy(id_col).agg(
        F.count_distinct("gram_h").cast("long").alias("n_grams")
    )
    hits = (
        train_g.join(F.broadcast(bench_g), "gram_h")
        .groupBy(id_col)
        .agg(
            F.count_distinct("gram_h").cast("long").alias("n_shared_grams"),
            F.count_distinct("bench_id").cast("long").alias("n_bench_docs"),
        )
    )
    return hits.join(totals, id_col).select(
        id_col,
        "n_shared_grams",
        "n_bench_docs",
        "n_grams",
        (F.col("n_shared_grams") / F.col("n_grams")).alias("contaminated_frac"),
    )


def pack_documents(
    df: DataFrame,
    capacity: int = 8192,
    num_shards: int = 8,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic context-window packing: assign each document to a
    fixed-capacity token bin (the sequence-packing step before
    training).

    Documents are sharded by a content-independent hash (so packing is
    embarrassingly parallel — each shard packs independently), ordered
    deterministically within the shard, and binned by their cumulative
    token offset: a doc belongs to the bin its first token falls in
    (capacity is a soft target; the straddling doc overflows its bin
    rather than splitting). One shuffle, grid-free, reproducible
    across runs and engines; at 100 TB each shard's running sum is an
    independent window, no global sort.
    """
    from pyspark.sql.window import Window

    n_tokens = F.size(tokens(col)).cast("long")
    shard = F.pmod(
        md5_long(F.col(id_col).cast("string")), F.lit(num_shards)
    ).cast("int")
    base = df.select(F.col(id_col), n_tokens.alias("n_tokens"), shard.alias("shard"))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_off = base.withColumn("_end", F.sum("n_tokens").over(w)).withColumn(
        "start_offset", F.col("_end") - F.col("n_tokens")
    )
    return with_off.select(
        id_col,
        "shard",
        "n_tokens",
        (F.col("shard") * 1_000_000 + F.floor(F.col("start_offset") / capacity)).alias(
            "pack_id"
        ),
        (F.col("start_offset") % capacity).cast("long").alias("offset_in_pack"),
    )


# PII patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b anchors —
# no lookarounds or backreferences (RE2 has neither).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{2,4}-[0-9]{3,4}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(df: DataFrame, col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: count then replace emails,
    SSNs, phone numbers, and IPv4 addresses with typed placeholder
    tags, applied in a fixed order (so overlapping matches — an SSN
    shape inside a phone number — resolve deterministically).

    All-narrow: four regexp_count and four chained regexp_replace
    expressions per row, fused into the scan stage by whole-stage
    codegen; nothing shuffles, which is the only acceptable shape for
    a 100 TB redaction pass. Adds ``n_<kind>`` counts (from the
    pre-redaction text) and replaces ``col`` with the redacted form.
    """
    counts = [
        F.regexp_count(F.col(col), F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat, _tag in PII_PATTERNS
    ]
    red = F.col(col)
    for _kind, pat, tag in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tag)
    return df.select(
        *[c for c in df.columns if c != col], *counts, red.alias(col)
    )


def bpe_pair_counts(df: DataFrame, top_k: int = 50, col: str = "text") -> DataFrame:
    """One iteration of BPE merge-pair counting — the inner loop of
    byte-pair-encoding tokenizer training: count adjacent character
    pairs across the corpus, weighted by word frequency, and rank the
    merge candidates.

    Scale shape (the same factoring real BPE trainers use on large
    corpora): the only corpus-sized pass is the word explode +
    frequency count, whose exchange carries (word, count) with map-side
    partials. Pair enumeration then runs over the DISTINCT-word table —
    Zipf-bounded, orders of magnitude smaller than the corpus — so the
    quadratic-ish per-word character work never touches corpus-scale
    data. Subsequent BPE iterations would re-run only the small
    pair-enumeration stage on re-segmented words.

    Deterministic top-k: ties broken by the pair string, so the result
    is engine-reproducible (oracle-checked in DuckDB).
    """
    words = df.select(F.explode(F.split(F.col(col), " ")).alias("w")).filter(
        F.length("w") > 0
    )
    wf = words.groupBy("w").agg(F.count("*").alias("freq"))
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(top_k)
    )


def cdc_chunk_dedup(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", boundary_mod: int = 32
) -> DataFrame:
    """Content-defined chunking + chunk-level dedup: split each
    document at content-derived boundaries (a new chunk starts before
    any word whose md5 is 0 mod ``boundary_mod``), fingerprint each
    chunk, and collapse identical chunks corpus-wide.

    Why content-defined instead of fixed windows (t5_doc_chunks):
    inserting one word near the start of a doc shifts EVERY
    fixed-window chunk, but only the one content-defined chunk
    containing the edit — the property that lets chunk-level dedup
    find shared passages across near-identical documents (the rsync /
    backup-dedup trick, applied to training corpora).

    Plan shape (the t23 lesson, SCALING.md "negative result": Spark
    evaluates higher-order-function lambdas INTERPRETED per element,
    so per-token HOF chunk assembly was the heaviest CPU in the text
    family — 10.6 s at 50k docs). Rewritten fully codegen: posexplode
    tokens, md5 boundary flag as a plain builtin expression, chunk id
    as a running boundary count (``sum() OVER (PARTITION BY doc ORDER
    BY pos)``), and chunk text reassembled by a hash aggregate on
    (doc, chunk) via sort_array(collect_list(struct(pos, tok))) with a
    native GetArrayStructFields field pull — zero lambdas anywhere.
    Costs one token-volume exchange (the window's hash-by-doc) that
    the HOF version avoided; the (doc, chunk) aggregate reuses that
    partitioning (hash-by-doc satisfies the clustered distribution —
    plan-gated, exactly 3 exchanges total), and the final fingerprint
    groupBy again carries only 32-char digests. Deterministic:
    boundaries come from md5, not RNG. An under-partitioned input
    re-splits first (fan_out_narrow; no-op on a parallel scan).
    """
    from pyspark.sql import Window

    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)

    tok = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(col), " ")).alias("_pos", "_tok"),
    )
    is_boundary = (F.col("_pos") >= 1) & (md5_long("_tok") % boundary_mod == 0)
    w = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_chunk = tok.withColumn(
        "_chunk", F.sum(is_boundary.cast("int")).over(w)
    )
    exploded = with_chunk.groupBy(id_col, "_chunk").agg(
        F.array_join(
            F.sort_array(F.collect_list(F.struct("_pos", "_tok"))).getField("_tok"),
            " ",
        ).alias("chunk_text")
    )
    return (
        exploded.select(
            F.col(id_col), F.md5("chunk_text").alias("chunk_fp"),
            F.length("chunk_text").alias("_chars"),
        )
        .groupBy("chunk_fp")
        .agg(
            F.min(id_col).alias("keep_doc"),
            F.count("*").cast("long").alias("n_copies"),
            F.min("_chars").cast("long").alias("chunk_chars"),
        )
    )


def bigram_lm_scores(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Bigram language-model likelihood scoring — the CCNet-style
    'perplexity filter' shape: train add-one-smoothed bigram
    conditionals on the corpus itself, then score each document by its
    mean smoothed bigram likelihood. Low scores = atypical word
    sequences (boilerplate, gibberish, wrong-language fragments) even
    when unigram frequencies (t14) look normal.

    Engine-reproducible without transcendental math: each bigram's
    smoothed conditional (c12+1)/(c1+V) is scaled to integer 1e-9
    units with ONE exact float multiply + ONE correctly-rounded
    divide, then summed as longs — deterministic under any
    partitioning (the t14 integer-exactness recipe extended to
    conditionals; a log-space score would differ in last ulps across
    engines).

    Plan: bigram derivation is per-row (narrow); corpus model = one
    bigram-count aggregation (map-side partials); scoring joins each
    doc's bigrams to the model on the bigram key and broadcasts the
    unigram vocab. Docs with fewer than two tokens have no bigrams and
    drop out (both engine and oracle). The bigram derivation is
    CPU-bound, so an under-partitioned input re-splits first
    (fan_out_narrow; no-op on a parallel scan).
    """
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    toks = F.split(F.col(col), " ")
    doc_bigrams = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
                ),
            )
        ).alias("bigram"),
    ).withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
    bc = doc_bigrams.groupBy("bigram").agg(F.count("*").alias("c12"))
    tok = df.select(F.explode(toks).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("c1"))
    vocab_n = uni.agg(F.count("*").alias("v"))
    term = F.round((F.col("c12") + 1) * F.lit(1e9) / (F.col("c1") + F.col("v"))).cast(
        "long"
    )
    return (
        doc_bigrams.join(bc, "bigram")
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(term).cast("long").alias("lik_e9"),
        )
        .withColumn(
            "mean_lik_e9", F.round(F.col("lik_e9") / F.col("n_bigrams"), 3)
        )
    )


def ngram_novelty(
    df: DataFrame, n: int = 8, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document n-gram novelty against the rest of the corpus in
    doc-id order: the share of a doc's distinct word n-grams whose
    FIRST corpus occurrence (minimum doc id) is this doc. The
    incremental-crawl signal — a re-crawled or heavily-templated page
    scores near 0, fresh content near 1 — complementing pairwise dedup
    (d2-d5) with a per-doc scalar that needs no pair enumeration.

    Plan: per-row distinct n-gram arrays (narrow, the shingle
    machinery), one exploded aggregation to (gram -> min doc id) —
    grams are md5-compressed to 60-bit longs first so the corpus-wide
    exchange carries (long, long), never gram text — then a semi-sized
    join back to each doc's grams. Two exchanges total. The shingle
    md5 pass is CPU-bound, so an under-partitioned input re-splits
    first (fan_out_narrow; no-op on an already-parallel scan).
    """
    from kafka_flink_spark.operators.dedup import shingle_array
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    grams = df.select(
        F.col(id_col),
        F.explode(shingle_array(col, n)).alias("_g"),
    ).select(
        F.col(id_col),
        md5_long("_g").alias("_h"),
    )
    first_seen = grams.groupBy("_h").agg(F.min(id_col).alias("_first"))
    return (
        grams.join(first_seen, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("_first") == F.col(id_col)).cast("long"))
            .cast("long")
            .alias("novel_grams"),
        )
        .withColumn(
            "novelty", F.round(F.col("novel_grams") / F.col("n_grams"), 6)
        )
    )


def inverted_index(
    df: DataFrame,
    n: int = 3,
    max_df: int = 100,
    min_df: int = 2,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """N-gram-shingle -> postings-list construction (the candidate-
    lookup index behind incremental near-dup checks and contamination
    probes): per shingle, its document frequency and the sorted
    posting list of containing documents.

    Scale shape: the shingle-doc pair relation is derived per row
    (shingle_array is already distinct-per-doc, narrow) and aggregated
    with map-side partials. Postings lists are materialized ONLY for
    shingles with df in [min_df, max_df]: a boilerplate shingle's
    corpus-wide posting list is an unbounded hot row, so high-df
    shingles keep their count but never build a list (a real index
    shards those by doc-id range; the cap is where that policy plugs
    in). The postings string is the cross-engine-comparable rendering
    (suite convention: arrays render as delimiter-joined strings).
    The shingle derivation is CPU-bound, so an under-partitioned input
    re-splits first (fan_out_narrow; no-op on a parallel scan).
    """
    from kafka_flink_spark.operators.dedup import shingle_array
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    tp = df.select(
        F.explode(shingle_array(col, n)).alias("term"), F.col(id_col)
    )
    counts = tp.groupBy("term").agg(F.count("*").cast("long").alias("df_count"))
    small = counts.filter(
        (F.col("df_count") >= min_df) & (F.col("df_count") <= max_df)
    )
    return (
        tp.join(small, "term")
        .groupBy("term")
        .agg(
            F.first("df_count").alias("df_count"),
            F.array_join(F.array_sort(F.collect_list(id_col)), ",").alias("postings"),
        )
    )


def pmi_bigrams(
    df: DataFrame, min_count: int = 5, top_n: int = 50, col: str = "text"
) -> DataFrame:
    """Pointwise-mutual-information collocations: bigrams whose parts
    co-occur far more than independence predicts — the phrase-mining /
    tokenizer-merge-candidate primitive.

    PMI = ln(c(ab) * N / (c(a) * c(b))). Ranking compares the RATIO
    (one IEEE division of exactly-representable integer products —
    bit-identical across engines), never the ln(): last-ulp log
    differences can't flip an order. Plan: two token passes (bigram +
    unigram counts, both map-side combined), two broadcast joins of
    the bigram relation against the unigram counts, TakeOrdered top-N.
    The gram derivation is CPU-bound, so an under-partitioned input
    re-splits first (fan_out_narrow; no-op on a parallel scan).
    """
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    toks = tokens(col)
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array())
    bi = (
        df.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("n_tok"))
    )
    total = df.select(F.explode(grams).alias("g")).agg(
        F.count("*").cast("long").alias("n_total")
    )
    parts = F.split(F.col("bigram"), " ")
    scored = (
        bi.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n_a")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n_b")), "w2")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "ratio", (F.col("n_ab") * F.col("n_total")) / (F.col("n_a") * F.col("n_b"))
        )
    )
    return (
        scored.orderBy(F.desc("ratio"), F.asc("bigram"))
        .limit(top_n)
        .select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.log("ratio"), 6).alias("pmi"),
        )
    )


def stratified_exact_sample(
    df: DataFrame,
    frac: float = 0.1,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-quota stratified sampling: per stratum, keep exactly
    ceil(frac * |stratum|) rows, chosen by md5-hash order — the
    eval-set / ablation-split primitive when proportions must be exact
    (hash_sample's Bernoulli gate only hits the rate in expectation).

    Deterministic: the hash order is a pure function of ids, so the
    same rows survive on any cluster, any partitioning, any run. Plan:
    one shuffle on the stratum key; both window functions (rank by
    hash, stratum size) share the single sort.
    """
    from pyspark.sql.window import Window

    h = F.md5(F.concat_ws(":", F.lit("strat"), F.col(id_col).cast("string")))
    w_rank = Window.partitionBy(strata_col).orderBy(h.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(strata_col)
    return (
        df.select(F.col(id_col), F.col(strata_col))
        .withColumn("sample_rank", F.row_number().over(w_rank).cast("long"))
        .withColumn("n_stratum", F.count("*").over(w_all).cast("long"))
        .filter(F.col("sample_rank") <= F.ceil(F.lit(frac) * F.col("n_stratum")))
        .select(id_col, strata_col, "sample_rank", "n_stratum")
    )


def _token_window_hashes(
    df: DataFrame, k: int, col: str, id_col: str, carry_cols: tuple = ()
) -> "tuple[DataFrame, DataFrame]":
    """Shared ExactSubstr machinery: the exploded token stream
    (id, pos, tok) and the full-window hash rows (id, pos, wh) built
    with k-1 ``lead``s sharing one per-doc sort + a native md5 — all
    whole-stage codegen. ``carry_cols`` rides extra per-doc columns
    (e.g. a grouping key) through both outputs so callers don't pay a
    join to re-attach them."""
    from pyspark.sql.window import Window

    carry = list(carry_cols)
    toks = F.split(F.col(col), " ")
    tok_rows = df.select(
        F.col(id_col), *carry, F.posexplode(toks).alias("pos0", "tok")
    ).select(id_col, *carry, (F.col("pos0") + 1).alias("pos"), "tok")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.lead("tok", j).over(w_doc) for j in range(1, k)]
    )
    wins = (
        tok_rows.withColumn("_last", F.lead("tok", k - 1).over(w_doc))
        .withColumn("wh", md5_long(gram))
        .filter(F.col("_last").isNotNull())
        .select(id_col, *carry, "pos", "wh")
    )
    return tok_rows, wins


def duplicated_window_spans(
    df: DataFrame, k: int = 8, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repeated-substring detection at token granularity: every k-token
    window is rolling-hashed, windows whose hash occurs more than once
    anywhere in the corpus are flagged, and per document the flagged
    windows are merged into maximal spans to measure how many tokens sit
    inside some corpus-repeated k-gram (the ExactSubstr dedup signal of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally).

    Scale design: tokens are exploded once (a narrow generate) and the
    k-gram under each position is assembled with k-1 ``lead``s sharing
    ONE per-doc sort — every expression stays in whole-stage codegen.
    (A per-row higher-order formulation — transform over sequence with
    an md5 or fold per window — looks narrower but runs ~7× slower:
    HigherOrderFunction lambdas are interpreted per element, 45M
    interpreted evals at 50k docs. Measured in SCALING.md.) The
    corpus-sized exchange carries (doc_id, pos, token) ≈ the token
    stream itself — the inherent cost of substring-level dedup (a
    distributed suffix array shuffles the same order of data). The
    duplicate-hash set is built with map-side partial counts and
    joined back semi-style; interval merging reuses the SAME per-doc
    partitioning/sort the leads established — no further exchange.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.col(col), " ")
    n_toks = F.size(toks)
    base = df.select(
        F.col(id_col),
        n_toks.cast("long").alias("n_tokens"),
        F.greatest(n_toks - k + 1, F.lit(0)).cast("long").alias("n_windows"),
    )

    _, wins = _token_window_hashes(df, k, col, id_col)
    dup_hashes = wins.groupBy("wh").agg(F.count("*").alias("n_occ")).filter(
        F.col("n_occ") > 1
    )
    flagged = wins.join(dup_hashes.select("wh"), "wh", "left_semi")

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + (k - 1)
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    contrib = F.greatest(
        end - F.greatest(F.coalesce(prev_end, F.lit(0)), F.col("pos") - 1),
        F.lit(0),
    )
    per_doc = (
        flagged.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_dup_windows"),
            F.sum("contrib").cast("long").alias("dup_tokens"),
        )
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


def boilerplate_spans(
    df: DataFrame,
    k: int = 2,
    min_frac: float = 0.15,
    col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Domain-conditioned boilerplate detection (the CCNet / trafilatura
    cleanup stage, re-expressed relationally): a word ``k``-gram is
    BOILERPLATE within its ``group_col`` (site / crawl source) when it
    occurs in at least ``ceil(min_frac × docs_in_group)`` distinct
    documents of that group — headers, footers, nav strings, cookie
    banners repeat across a site's pages but not across the web. Per
    document, boilerplate k-gram occurrences are merged into maximal
    spans and the covered-token count reported, so a downstream filter
    can drop or trim high-boilerplate pages.

    Distinct from :func:`duplicated_window_spans` (corpus-global
    "appears twice anywhere" — the ExactSubstr signal): boilerplate is
    group-RELATIVE frequency, so a string shared by 2 of a site's 10k
    pages is dup but not boilerplate, while one on 40% of them is
    boilerplate even if each occurrence differs elsewhere.

    Scale design: the k-gram stream reuses the ExactSubstr machinery
    (exploded tokens + k−1 ``lead``s over ONE per-doc sort — all
    codegen, the t23 lesson). Group-relative frequency needs distinct
    docs per (group, gram-hash): the exchange payload is (group,
    60-bit hash, doc_id) — never text. Per-group doc counts are a
    group-cardinality-sized aggregate (broadcast). The boiler set
    joins back semi-style on (group, hash), and the span-union window
    reuses the per-doc partitioning the leads established. Total: the
    one token-scale exchange every substring-granularity op pays, plus
    two hash-sized ones.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.col(col), " ")
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        F.size(toks).cast("long").alias("n_tokens"),
    )

    # The window-hash stream is consumed from TWO plan positions (the
    # group-frequency aggregation and the span flag join); recomputing
    # it would pay the token-scale exchange + per-doc sort twice, so
    # pin it once (the round-5 multi-consumer convention). The group
    # key rides through the helper — no join to re-attach it.
    _, wins = _token_window_hashes(df, k, col, id_col, carry_cols=(group_col,))
    wins = pin(wins)

    group_sizes = base.groupBy(group_col).agg(
        F.countDistinct(id_col).alias("_n_docs")
    )
    # group_sizes is one row per group — broadcast. The boiler set is
    # NOT force-broadcast: per group it is bounded (incidences /
    # (min_frac × docs) ≈ shingles-per-doc / min_frac rows), but it
    # grows with group count, so AQE picks broadcast while it fits and
    # falls back to the co-partitioned (group, hash) shuffle join when
    # a 100 TB crawl's domain count outgrows it.
    boiler = (
        wins.select(group_col, "wh", id_col)
        .distinct()
        .groupBy(group_col, "wh")
        .agg(F.count("*").alias("_df"))
        .join(F.broadcast(group_sizes), group_col)
        .filter(F.col("_df") >= F.ceil(F.lit(min_frac) * F.col("_n_docs")))
        .select(group_col, "wh")
    )
    flagged = wins.join(boiler, [group_col, "wh"], "left_semi")

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    end = F.col("pos") + (k - 1)
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    contrib = F.greatest(
        end - F.greatest(F.coalesce(prev_end, F.lit(0)), F.col("pos") - 1),
        F.lit(0),
    )
    per_doc = (
        flagged.withColumn("contrib", contrib)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_boiler_windows"),
            F.sum("contrib").cast("long").alias("boiler_tokens"),
        )
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            group_col,
            "n_tokens",
            F.coalesce("n_boiler_windows", F.lit(0))
            .cast("long")
            .alias("n_boiler_windows"),
            F.coalesce("boiler_tokens", F.lit(0)).cast("long").alias("boiler_tokens"),
            F.round(
                F.coalesce("boiler_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("boiler_ratio"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram,
    slide a window of ``w`` consecutive hashes, and select each
    window's RIGHTMOST minimal hash. The selected (position, hash)
    set is the fingerprint — guaranteed to share a hash with any
    other document that shares a substring of at least w+k-1 words,
    while storing only ~2/(w+1) of the gram hashes.

    Per doc: n_fingerprints (selected positions), n_distinct_fp
    (distinct selected hashes), min_fp. Docs with fewer than w
    full-size gram windows (shorter than w+k-1 words) emit nothing —
    below the guarantee threshold, matching the oracle.

    Plan shape (the t23 recipe): exploded tokens, k-1 ``lead``s for
    the gram, md5 in codegen, then the rightmost-minimal selection is
    ONE more window aggregate — ``min(struct(hash, -pos))`` over a
    w-row trailing frame; struct ordering makes the rightmost tie
    free. Every window shares the single per-doc sort, so the whole
    op is one token-volume exchange plus the final per-doc aggregate.
    """
    _, wins = _token_window_hashes(df, k, col, id_col)
    from pyspark.sql.window import Window

    w_doc = Window.partitionBy(id_col).orderBy("pos")
    frame = w_doc.rowsBetween(-(w - 1), 0)
    sel = (
        wins.withColumn("_i", F.row_number().over(w_doc))
        .withColumn(
            "_sel", F.min(F.struct(F.col("wh"), (-F.col("pos")).alias("np"))).over(frame)
        )
        # full windows only: the first w-1 trailing frames are partial
        .filter(F.col("_i") >= w)
        .select(F.col(id_col), F.col("_sel.np").alias("np"), F.col("_sel.wh").alias("fp"))
        .distinct()
    )
    return sel.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_fingerprints"),
        F.countDistinct("fp").cast("long").alias("n_distinct_fp"),
        F.min("fp").cast("long").alias("min_fp"),
    )


def gopher_quality_rules(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    — the rule family, thresholds adapted to the fixture corpus):
    word-count bounds, mean-word-length bounds, minimum stop-word
    evidence, and an alphabetic-word-ratio floor, plus the composite
    keep flag. The rule battery every web-scale ingest applies before
    any model-based filtering.

    All four signals are per-row narrow expressions over one token
    split — no shuffle at all until a caller aggregates; at 100 TB
    this is a pure map stage fused into the scan.
    """
    toks = tokens(col)
    n_words = F.size(toks).cast("long")
    mean_wlen = (F.length(F.col(col)) - (n_words - 1)) / n_words
    stop_hits = _stopword_hits("en", col).cast("long")
    non_alpha = F.size(F.filter(toks, lambda t: t.rlike("[^A-Za-z]"))).cast("long")
    alpha_ratio = (n_words - non_alpha) / F.greatest(n_words, F.lit(1))
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
    )
    rule_words = (F.col("n_words") >= 40) & (F.col("n_words") <= 100_000)
    rule_wlen = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    rule_stop = F.col("stop_hits") >= 2
    rule_alpha = F.col("alpha_ratio") >= 0.8
    return out.select(
        "*",
        rule_words.alias("pass_word_count"),
        rule_wlen.alias("pass_word_len"),
        rule_stop.alias("pass_stopwords"),
        rule_alpha.alias("pass_alpha"),
        (rule_words & rule_wlen & rule_stop & rule_alpha).alias("keep"),
    )


def deterministic_shuffle(
    df: DataFrame, n_shards: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic global corpus shuffle for training-data ordering:
    each document gets a pseudo-random md5 sort key, a shard assignment
    (60-bit key mod n_shards), and a position within its shard. The
    same rows land in the same shard at the same offset on any cluster,
    any partitioning, any run — reproducible epoch ordering without a
    seed exchange.

    Scale design: NO global sort. The shard assignment is a narrow
    projection, and positions are per-shard row_numbers — one hash
    shuffle on the shard key followed by a within-partition sort of
    corpus/n_shards rows. With n_shards sized to the cluster (e.g.
    10k shards at 100 TB) each sort fits in an executor; a writer then
    emits shard files in position order (io-layer concern).
    """
    from pyspark.sql.window import Window

    key = F.md5(F.concat(F.lit("shuffle:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        md5_long(F.col(id_col).cast("string"), salt="shuffle:"), F.lit(n_shards)
    ).cast("long")
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    return (
        df.select(F.col(id_col), key.alias("sort_key"), shard.alias("shard"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos_in_shard")
    )


def bpe_train(
    df: DataFrame, num_merges: int = 8, col: str = "text"
) -> DataFrame:
    """Distributed BPE tokenizer training: the full iterative merge
    loop, not just one round of pair statistics (t16). One corpus-sized
    pass builds the word-frequency table; every subsequent iteration
    runs over the Zipf-bounded DISTINCT-word vocabulary only. Per
    iteration: adjacent symbol-pair counts weighted by word frequency
    (map-side partials), the argmax pair selected with a TakeOrdered
    limit(1) (ties broken lexicographically), and the merge applied to
    every word with a single higher-order fold (aggregate) that scans
    each symbol array left-to-right — the canonical greedy BPE merge.

    Zero driver-side collect: the winning pair stays a 1-row DataFrame,
    broadcast-joined onto the vocabulary so the fold reads the rule
    from columns; the returned merge table is the union of the per-
    round winners. Lineage is cut per round with ``pin`` on
    the (small) vocabulary relation.

    Returns one row per learned merge: merge_rank, left, right,
    merged, pair_count.
    """
    return _bpe_loop(df, num_merges, col)[0]


def _bpe_loop(df: DataFrame, num_merges: int, col: str):
    """Shared BPE training loop: returns (merge table, final vocab)
    where vocab is (syms array<string>, freq) per distinct word after
    all merges — bpe_train exposes the merges, bpe_encode_stats the
    encoded vocabulary."""
    from functools import reduce

    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    vocab = (
        df.select(F.explode(F.split(F.col(col), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(chars.alias("syms"), "freq")
        .transform(pin)
    )

    winners = []
    for r in range(num_merges):
        pairs = vocab.filter(F.size("syms") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("l"),
                        F.element_at(F.col("syms"), i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("_l"), F.col("p.r").alias("_r"))
            .agg(F.sum("freq").cast("long").alias("_cnt"))
            .orderBy(F.desc("_cnt"), "_l", "_r")
            .limit(1)
            .withColumn("_m", F.concat("_l", "_r"))
            .transform(pin)
        )
        winners.append(
            top.select(
                F.lit(r + 1).cast("long").alias("merge_rank"),
                F.col("_l").alias("left"),
                F.col("_r").alias("right"),
                F.col("_m").alias("merged"),
                F.col("_cnt").alias("pair_count"),
            )
        )
        merged_syms = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("_l"))
                & (s == F.col("_r")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.col("_m"))
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        vocab = (
            vocab.join(F.broadcast(top), F.lit(True), "left")
            .select(merged_syms.alias("syms"), "freq")
            .transform(pin)
        )

    return reduce(DataFrame.unionByName, winners), vocab


def bpe_encode_stats(
    df: DataFrame, num_merges: int = 8, col: str = "text"
) -> DataFrame:
    """The encode half of the tokenizer story: train ``num_merges``
    BPE merges (t25's loop), apply them, and report corpus token
    statistics — character-level vs BPE token counts, distinct symbol
    inventory, and the compression ratio the merges bought.

    Scale design: encoding runs over the Zipf-bounded DISTINCT-word
    vocabulary only (each word encoded once, weighted by its corpus
    frequency) — the corpus itself is touched exactly once, for word
    counts. Everything downstream of that single pass is
    vocabulary-sized.

    Returns one row: n_merges, n_distinct_words, total_words,
    char_tokens, bpe_tokens, n_symbols, compression_ratio.
    """
    _, vocab = _bpe_loop(df, num_merges, col)
    per_word = vocab.select(
        "freq",
        F.size("syms").alias("n_syms"),
        F.aggregate(
            F.col("syms"), F.lit(0), lambda acc, s: acc + F.length(s)
        ).alias("n_chars"),
    )
    totals = per_word.agg(
        F.count("*").cast("long").alias("n_distinct_words"),
        F.sum("freq").cast("long").alias("total_words"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("char_tokens"),
        F.sum(F.col("freq") * F.col("n_syms")).cast("long").alias("bpe_tokens"),
    )
    symbols = (
        vocab.select(F.explode("syms").alias("sym"))
        .agg(F.count_distinct("sym").cast("long").alias("n_symbols"))
    )
    return (
        totals.crossJoin(F.broadcast(symbols))
        .select(
            F.lit(num_merges).cast("long").alias("n_merges"),
            "n_distinct_words",
            "total_words",
            "char_tokens",
            "bpe_tokens",
            "n_symbols",
            F.round(F.col("char_tokens") / F.col("bpe_tokens"), 6).alias(
                "compression_ratio"
            ),
        )
    )


def curriculum_order(
    df: DataFrame,
    n_shards: int | str = 8,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """Curriculum data ordering: documents are quality-binned (quartile
    buckets of the t2 heuristic quality score), deterministically
    shuffled within each bin, and assigned a single global curriculum
    rank that walks the bins from cleanest to noisiest — the
    quality-curriculum epoch schedule, composed from the registered
    quality-scoring and deterministic-shuffle primitives.

    Scale design: NO global sort. Ranks come from per-(bin, shard)
    row_numbers plus a prefix-sum of (bin, shard) sizes — the offsets
    relation has 4 * n_shards rows, so its single-partition window is
    trivially small and broadcast back onto the corpus. The only
    corpus-sized exchange is the hash shuffle on (bin, shard).

    ``n_shards`` defaults to 8 — a FIXED count, because ranks are a
    function of n_shards and default-call output must be reproducible
    across differently-sized clusters (curriculum order is training
    metadata; silent cluster-dependence would poison restarts). Pass
    ``n_shards="auto"`` to opt into parallelism-scaled shards (floor
    8) when the per-shard row_number windows — the op's parallelism
    ceiling at bins × shards partitions — should scale with the
    cluster and cross-cluster reproducibility is not required.
    """
    from pyspark.sql.window import Window

    # None is accepted as an alias for "auto" (the round-4 spelling of
    # parallelism-scaled shards) so existing callers don't break.
    if n_shards in ("auto", None):
        n_shards = max(8, df.sparkSession.sparkContext.defaultParallelism)
    elif not isinstance(n_shards, int):
        raise ValueError(
            f"n_shards must be an int, 'auto', or None (got {n_shards!r})"
        )

    q = quality_scores(df.select(id_col, col)).select(id_col, "quality_score")
    key = F.md5(F.concat(F.lit("curr:"), F.col(id_col).cast("string")))
    base = q.select(
        F.col(id_col),
        F.least(F.floor(F.col("quality_score") * 4), F.lit(3))
        .cast("long")
        .alias("quality_bin"),
        key.alias("sort_key"),
        F.pmod(
            md5_long(F.col(id_col).cast("string"), salt="curr:"), F.lit(n_shards)
        )
        .cast("long")
        .alias("shard"),
    )
    w_pos = Window.partitionBy("quality_bin", "shard").orderBy("sort_key", id_col)
    pos = base.withColumn("pos_in_shard", F.row_number().over(w_pos).cast("long"))
    sizes = base.groupBy("quality_bin", "shard").agg(F.count("*").alias("n"))
    # 4 * n_shards rows: the single-partition window here is deliberate.
    w_off = Window.orderBy(F.desc("quality_bin"), F.asc("shard")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "quality_bin",
        "shard",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).cast("long").alias("bin_offset"),
    )
    return pos.join(F.broadcast(offsets), ["quality_bin", "shard"]).select(
        id_col,
        "quality_bin",
        "shard",
        "pos_in_shard",
        (F.col("bin_offset") + F.col("pos_in_shard")).cast("long").alias("curriculum_rank"),
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    target_frac: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture sampling: per-source sampling rates
    computed FROM the data — p_s ∝ n_s^alpha (alpha < 1 upweights
    small sources, the multilingual/multi-domain rebalancing standard)
    — then applied with the deterministic md5 gate. Returns the
    per-source audit table (n_docs, rate_ppm, n_sampled).

    Scale design: one corpus pass for per-source counts (map-side
    partials), the rate table is |sources| rows (single-partition
    window over it is deliberate), broadcast back onto the corpus for
    the gate — the corpus never shuffles on anything but the final
    per-source count.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(source_col).agg(F.count("*").alias("n_docs"))
    total = Window.partitionBy()  # |sources| rows — tiny by contract
    w_sum = F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha))).over(total)
    n_total = F.sum("n_docs").over(total)
    quota = (
        F.lit(target_frac)
        * n_total
        * F.pow(F.col("n_docs").cast("double"), F.lit(alpha))
        / w_sum
    )
    rates = counts.select(
        source_col,
        "n_docs",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(F.lit(1e6) * quota / F.col("n_docs")).cast("long"),
        ).alias("rate_ppm"),
    )
    gate = F.pmod(
        md5_long(F.col(id_col).cast("string"), salt="tmix:"), F.lit(1_000_000)
    )
    sampled = (
        df.select(id_col, source_col)
        .join(F.broadcast(rates), source_col)
        .withColumn("_in", (gate < F.col("rate_ppm")).cast("long"))
    )
    return (
        sampled.groupBy(source_col, "n_docs", "rate_ppm")
        .agg(F.sum("_in").cast("long").alias("n_sampled"))
        .select(source_col, F.col("n_docs").cast("long").alias("n_docs"), "rate_ppm", "n_sampled")
    )


def remove_duplicate_spans(
    df: DataFrame, k: int = 8, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The APPLY half of ExactSubstr dedup (t23 detects, this
    rewrites): every corpus-duplicated k-token window keeps only its
    FIRST occurrence (min (doc_id, pos)); all other occurrences'
    tokens are removed and each doc reports its removal stats plus the
    md5 of the cleaned text — the Lee et al. 2021 dedup transformation
    with a deterministic keep-first policy.

    Scale design: reuses the exploded-lead window hashing of t23 (all
    codegen). Keeper selection is one shuffle on the window hash
    (row_number + count share the partition). Coverage is a classic
    sorted-merge: removable-window start events union'd with the token
    stream, one per-doc running max over (pos, typ) — a token is
    removed iff a removable window starting at or before it still
    covers it. The cleaned text is assembled per doc from kept tokens
    (sort_array over the collected (pos, tok) structs — output-sized,
    deterministic).
    """
    from pyspark.sql.window import Window

    tok_rows, wins = _token_window_hashes(df, k, col, id_col)
    w_h = Window.partitionBy("wh").orderBy(id_col, "pos")
    occ = wins.select(
        id_col,
        "pos",
        F.row_number().over(w_h).alias("rn"),
        F.count("*").over(Window.partitionBy("wh")).alias("n_occ"),
    )
    removable = occ.filter((F.col("n_occ") > 1) & (F.col("rn") > 1)).select(
        id_col, "pos", (F.col("pos") + k - 1).alias("e")
    )

    ev = removable.select(
        id_col,
        "pos",
        F.lit(0).alias("typ"),
        "e",
        F.lit(None).cast("string").alias("tok"),
    )
    tk = tok_rows.select(
        id_col, "pos", F.lit(1).alias("typ"), F.lit(None).cast("long").alias("e"), "tok"
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos", "typ")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cov = (
        ev.unionByName(tk)
        .withColumn("maxe", F.max("e").over(w_run))
        .filter(F.col("typ") == 1)
        .select(
            id_col,
            "pos",
            "tok",
            (F.coalesce(F.col("maxe"), F.lit(0)) < F.col("pos")).alias("kept"),
        )
    )
    return cov.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("kept"), 0).otherwise(1)).cast("long").alias("n_removed"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("pos", "tok"))
                        )
                    ),
                    lambda x: x["tok"],
                ),
            )
        ).alias("clean_md5"),
    )


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...] = ("table", "spark", "window", "stream"),
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance scores for a literal query-term set — the
    classic lexical ranking function (k1 = 1.2, b = 0.75, Lucene
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf), one row per
    (matching doc, term).

    Engine-reproducibility (the t21 recipe): the tf saturation term
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) is computed as ONE
    division of two exactly-representable integers — with avgdl =
    totalW/N, numerator 22·totalW·tf and denominator 10·totalW·tf +
    3·totalW + 9·dl·N (k1/b baked into the scaling) — so its bits are
    identical in any engine; idf's ln is rounded to 6 and the final
    product re-rounded. Per-term rows avoid a cross-term double sum
    whose addition order could differ.

    Plan: tokens explode once; tf is one (doc, term) aggregation over
    the filtered (tiny) term stream; df derives from tf; the corpus
    stats (N, totalW) are a one-row aggregate broadcast onto the
    matches. Nothing corpus-sized shuffles except doc lengths'
    map-side-combined count.
    """
    toks = F.split(F.col(col), " ")
    dl_rel = df.select(F.col(id_col), F.size(toks).cast("long").alias("dl"))
    term_rows = df.select(
        F.col(id_col), F.explode(toks).alias("term")
    ).filter(F.col("term").isin(*terms))
    tf = term_rows.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    stats = dl_rel.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_w"),
    )
    joined = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl_rel, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 6
    )
    tfpart = F.round(
        (22 * F.col("total_w") * F.col("tf"))
        / (
            10 * F.col("total_w") * F.col("tf")
            + 3 * F.col("total_w")
            + 9 * F.col("dl") * F.col("n_docs")
        ),
        6,
    )
    return joined.select(
        F.col(id_col),
        "term",
        "tf",
        "dl",
        "df",
        idf.alias("idf"),
        tfpart.alias("tf_part"),
        F.round(idf * tfpart, 6).alias("bm25"),
    )


def model_quality_scores(df: DataFrame, col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Model-based quality scoring plumbing — the FineWeb-Edu /
    classifier-filter shape: documents cross to Python in Arrow
    batches (``mapInPandas``), a scorer produces a per-doc logit and
    a 0-5 educational-quality bucket, and ``keep`` gates the corpus.

    The SCORER here is a deterministic stub (md5-derived logit plus a
    length feature, integer arithmetic only) so the whole path is
    oracle-checkable; swap the body for ONNX/torch batch inference and
    every Spark-side property is unchanged — Arrow batch transfer,
    narrow plan (no shuffle: scoring fuses with the scan), executor-
    local model instantiation once per partition via the iterator
    protocol, batch-size control through
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.

    At 100 TB this is the GPU/CPU-inference stage of the pipeline; its
    scaling is rows/sec × executors, with no exchange anywhere — the
    only Spark concern is batch sizing, which the iterator form
    already exposes.
    """
    from collections.abc import Iterator as _It

    out_schema = (
        f"{id_col} long, mq_logit_u long, edu_score long, keep boolean"
    )

    def score_batches(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        # model init would happen HERE, once per partition
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            texts = pdf[col].fillna("").to_numpy()
            logits_u = []
            for i, txt in zip(ids, texts):
                h = hashlib.md5(f"mq:{i}".encode()).hexdigest()
                base = int(h[:15], 16) % 2_000_001 - 1_000_000  # [-1e6, 1e6]
                length_feat = min(len(txt), 1000) * 500  # [0, 5e5]
                logits_u.append(base + length_feat)  # 1e-6 units
            out = pd.DataFrame(
                {
                    id_col: ids,
                    "mq_logit_u": logits_u,
                }
            )
            # bucket [-1e6, 1.5e6] -> 0..5 (FineWeb-Edu style)
            out["edu_score"] = ((out["mq_logit_u"] + 1_000_000) // 500_000).clip(
                0, 5
            )
            out["keep"] = out["edu_score"] >= 3
            yield out

    return df.select(id_col, col).mapInPandas(score_batches, out_schema)


WPS_U_MOD = 1 << 30  # 30-bit uniform keeps w * SCALE inside int64
WPS_SCALE = 10**9


def weighted_priority_sample(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """Deterministic weighted sampling via PRIORITY SAMPLING
    (Duffield, Lund & Thorup, JACM 2007): each row gets priority
    q_i = w_i / u_i with u_i uniform, and the sample is the top-k
    priorities — inclusion probability grows with weight w_i, and the
    scheme supports unbiased subset-sum estimation via the (k+1)-th
    priority as threshold. The mixture-builder's weighted cousin of
    ``hash_sample``: sample documents proportional to length/quality
    instead of per-stratum rates.

    Engine-portable determinism (the t22/t24 discipline): u_i is an
    md5-derived 30-bit integer, and the priority is computed as the
    exact INTEGER ``(w * 10^9) div (u + 1)`` — no RNG state, no float
    anywhere, bit-identical on any engine or partitioning. Weight =
    whitespace token count (the training-data default: sampling
    proportional to tokens yields token-uniform corpora).

    Scale shape: the weight+priority pass is a narrow zero-shuffle
    projection; top-k uses orderBy+limit, which Spark plans as
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows) — no global sort, no single-partition window.
    """
    u = md5_long(F.col(id_col).cast("string"), salt="wps:") % WPS_U_MOD
    # regexp_count of non-space runs == count of non-empty whitespace
    # tokens, entirely in codegen — an F.filter lambda here would run
    # interpreted per document on the operator's only corpus-sized
    # pass (the t23 lesson).
    w = F.regexp_count(F.col(col), F.lit("[^ ]+"))
    scored = df.select(
        F.col(id_col),
        w.cast("long").alias("n_tokens"),
        u.alias("_u"),
    ).select(
        id_col,
        "n_tokens",
        F.expr(f"(n_tokens * {WPS_SCALE}) div (_u + 1)").cast("long").alias("priority"),
    )
    return scored.orderBy(F.desc("priority"), id_col).limit(k)


def line_dedup(
    df: DataFrame,
    line_words: int = 8,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-global LINE-level exact dedup (the CCNet "dedup by
    line/paragraph" stage, Wenzek et al. 2020 §4.1, also RefinedWeb):
    each document is cut into fixed-size pseudo-lines (``line_words``
    consecutive tokens — the fixture's text is single-line, so
    segment boundaries stand in for newlines; real corpora split on
    newline with the identical dataflow), each line is hashed, and a
    line SURVIVES only at its first corpus occurrence (min
    (doc_id, line_idx) per hash) — every later occurrence is dropped.
    Per document the operator reports line/token drop accounting, the
    signal CCNet thresholds on before LM filtering.

    Distinct from t23/t27 (ExactSubstr: any k-gram window appearing
    twice flags BOTH occurrences) and t34 (group-relative boilerplate
    frequency): line dedup is positional — the first occurrence
    survives, so the deduped corpus keeps exactly one copy per line.

    Scale shape: lines don't overlap, so no per-doc sort or lead
    chain is needed (cheaper than t23's window machinery): ONE
    codegen pass explodes line indices (`explode(sequence(...))` —
    a Generate, not a HigherOrderFunction; zero interpreted lambdas)
    and projects (doc_id, line_idx, line_hash, n_words) in the same
    stage — the token array never outlives the fused explode+project,
    and the exchange payload is 3 longs + an int, never text.
    First-occurrence ownership is ONE hash-partitioned window
    (row_number over line_hash); per-doc accounting is ONE
    groupBy(doc_id). Two exchanges total, both on md5-uniform keys —
    a line duplicated across half the corpus still only gets RANKED
    inside its hash partition, never materialized as a group.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.col(col), " ")
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        toks.alias("_w"),
    )
    n_lines = F.ceil(F.col("n_tokens") / F.lit(line_words)).cast("long")
    rows = base.select(
        id_col,
        "n_tokens",
        "_w",
        F.explode(F.sequence(F.lit(0).cast("long"), n_lines - 1)).alias("line_idx"),
    )
    start = (F.col("line_idx") * line_words + 1).cast("int")
    lines = rows.select(
        id_col,
        "n_tokens",
        "line_idx",
        md5_long(F.array_join(F.slice("_w", start, line_words), " ")).alias("_lh"),
        F.least(
            F.lit(line_words).cast("long"),
            F.col("n_tokens") - F.col("line_idx") * line_words,
        ).alias("_nw"),
    )
    own = Window.partitionBy("_lh").orderBy(id_col, "line_idx")
    flagged = lines.withColumn("_rn", F.row_number().over(own))
    dup = F.when(F.col("_rn") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dup).cast("long").alias("n_dup_lines"),
            F.sum(dup * F.col("_nw")).cast("long").alias("dropped_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_lines",
            "n_dup_lines",
            "dropped_tokens",
            F.round(
                F.col("dropped_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 6
            ).alias("dup_ratio"),
        )
    )


DSIR_BUCKETS = 256


def dsir_importance(
    df: DataFrame,
    target_filter: Column,
    n_buckets: int = DSIR_BUCKETS,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every document by how much its hashed-token profile
    looks like a TARGET domain relative to the raw corpus — the
    importance weight that decides which of 100 TB of crawl gets into
    the training mix. Features are the paper's hashed n-grams
    (unigrams into ``n_buckets`` md5 buckets); the target and raw
    bucket distributions are Laplace-smoothed counts.

    Engine-exact scoring (the t18 discipline — no transcendentals):
    instead of the paper's log-ratio sum, each token contributes its
    smoothed probability RATIO in integer 1e-9 units,
    ``round(1e9 * (tc_b+1)(R+B) / ((rc_b+1)(T+B)))`` — one multiply +
    one divide as correctly rounded IEEE ops, and the per-doc sum is
    a long. Exactness caveat (ADVICE r5): the products stay under
    2^53 — and the ratio bit-identical across engines — only while
    (tc_b+1)*(R+B) < 2^53, i.e. token-count x corpus-token products
    below ~9e15; that holds at every tested SF (sf0.1 is ~10^7 x 10^7
    at worst) and far beyond, but a true 100-TB corpus crosses it, at
    which point the double rounding of the PRODUCT (not the division)
    can differ between engines. The 100-TB swap is decimal(38,0)
    arithmetic for the two products, same plan shape. The per-doc score (mean per-token ratio)
    is a monotone domain-affinity surrogate for the log form —
    rank-reversals are possible between the two scorings (arithmetic
    vs geometric mean), but the selection CONTRACT (deterministic,
    oracle-verifiable at any SF) is what the engine pins; a log-space
    variant would drift in last ulps across libms.

    Scale shape: the token stream exchanges once on the bucket id (a
    long) for the two count tables; the 256-row ratio table broadcasts
    back onto the same narrow token stream; per-doc accounting is one
    groupBy. Raw text never shuffles.
    """
    from kafka_flink_spark.operators.partitioning import fan_out_narrow

    df = fan_out_narrow(df)
    toks = F.split(F.col(col), " ")
    tok = df.select(
        F.col(id_col),
        target_filter.cast("int").alias("_is_tgt"),
        F.explode(toks).alias("_w"),
    ).select(
        id_col, "_is_tgt", (md5_long(F.col("_w")) % n_buckets).alias("_b")
    )
    counts = tok.groupBy("_b").agg(
        F.count("*").alias("rc"),
        F.sum("_is_tgt").alias("tc"),
    )
    totals = counts.agg(
        F.sum("rc").alias("R"), F.sum("tc").alias("T")
    )
    ratio = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.round(
                F.lit(1e9)
                * ((F.col("tc") + 1) * (F.col("R") + n_buckets)).cast("double")
                / ((F.col("rc") + 1) * (F.col("T") + n_buckets)).cast("double")
            )
            .cast("long")
            .alias("r_e9"),
        )
    )
    return (
        tok.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("r_e9").cast("long").alias("imp_e9"),
        )
        .withColumn("mean_imp_e9", F.round(F.col("imp_e9") / F.col("n_tokens"), 3))
    )


def unicode_normalize(
    df: DataFrame,
    col: str = "text",
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode normalization (NFC/NFD/NFKC/NFKD) of a string column —
    the zeroth preprocessing step of any multilingual corpus: crawls
    mix composed (U+00E9) and decomposed (U+0065 U+0301) encodings of
    the same text, and every downstream hash-based operator (exact
    dedup t4, MinHash d3, line dedup t36) treats the two as different
    bytes unless the corpus is normalized first.

    Spark has no normalization builtin, so this is the documented
    Python escape hatch: an Arrow-batched ``pandas_udf`` over
    ``unicodedata.normalize`` — a narrow per-row projection that fuses
    with the scan (no shuffle, no state), so at 100 TB it runs at
    scan speed × Arrow transfer cost, exactly like the classifier
    stage (:func:`model_quality_scores`). NFC agrees bit-for-bit with
    DuckDB's utf8proc ``nfc_normalize`` (both implement UAX #15), so
    the op is fully oracle-checkable despite the Python body.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return df.withColumn(out_col or col, _norm(F.col(col)))


def hashed_tokens(
    df: DataFrame, col: str = "text", id_col: str = "doc_id", n_buckets: int = 256
) -> DataFrame:
    """Signed hashing-trick features (Weinberger et al. 2009): one
    ``(id_col, bucket, sgn)`` row per non-empty whitespace token, with
    ``bucket = md5_long('fh:' || t) mod n_buckets`` and a second-hash
    sign ``sgn = +1`` iff ``md5_long('fhs:' || t)`` is odd, else -1.
    Stateless and narrow (explode + two digests), so the same frame
    runs on a batch scan or a stream; callers aggregate it."""
    tok = df.select(
        id_col, F.explode(F.split(col, " ")).alias("t")
    ).filter(F.col("t") != "")
    return tok.select(
        id_col,
        (md5_long("t", salt="fh:") % n_buckets).alias("bucket"),
        F.when(md5_long("t", salt="fhs:") % 2 == 1, 1).otherwise(-1).alias("sgn"),
    )


def bucket_weights(spark: SparkSession, n_buckets: int = 256) -> DataFrame:
    """Deterministic linear-model weight vector over the
    :func:`hashed_tokens` buckets: ``(bucket, w)`` with
    ``w(b) = md5_long('lmw:' || b) mod 2001 - 1000`` (integers in
    [-1000, 1000]), a stand-in for offline-trained coefficients."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (md5_long(F.col("id").cast("string"), salt="lmw:") % 2001 - 1000)
        .cast("long")
        .alias("w"),
    )


def linear_model_score(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    w_len: int = 3,
) -> DataFrame:
    """Linear-classifier inference over hashing-trick features,
    entirely in whole-stage codegen — the pure-JVM scale path for
    model-based quality filtering, complementing
    :func:`model_quality_scores` (which demonstrates the Arrow/Python
    escape hatch for non-linear models). A fasttext-style quality
    filter at inference time IS a linear map over sparse bag-of-words
    features; expressing it as explode → hash → partial-aggregable
    sum → broadcast-join the weight vector keeps the whole stage in
    Tungsten: no Python, no Arrow transfer, and the only exchange
    carries ≤ ``n_buckets`` rows per document regardless of length.

    Features are fe3's signed hashing-trick encoder
    (:func:`hashed_tokens`, so one featurization pass can serve both);
    the weight vector is the md5-derived :func:`bucket_weights`
    fixture — a real deployment swaps the generated relation for a
    256-row parquet of learned weights and every plan property is
    unchanged.
    The margin is exact integer arithmetic, so the decision boundary
    (and the oracle hash) is bit-identical across engines; no sigmoid
    — monotone in the margin, so thresholding the margin IS
    thresholding the probability.

    Returns (id_col, n_tokens, margin, keep).
    """
    weights = bucket_weights(df.sparkSession, n_buckets)
    hashed = hashed_tokens(df, col, id_col, n_buckets)
    # partial-aggregable: (doc, bucket) counts combine map-side before
    # the one exchange; the broadcast weight join adds no shuffle.
    vec = hashed.groupBy(id_col, "bucket").agg(
        F.sum("sgn").alias("x"), F.count("*").alias("cnt")
    )
    return (
        vec.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("x") * F.col("w")).cast("long").alias("bow_margin"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("bow_margin") + F.lit(int(w_len)) * F.col("n_tokens"))
            .cast("long")
            .alias("margin"),
            (
                (F.col("bow_margin") + F.lit(int(w_len)) * F.col("n_tokens")) > 0
            ).alias("keep"),
        )
    )


# (display name, Java-regex class for Spark, RE2 class for the DuckDB
# oracle, tie-break priority — higher wins equal counts). Counting is
# per CHARACTER; both engines' classes select identical code points.
SCRIPT_CLASSES: tuple[tuple[str, str, str, int], ...] = (
    ("latin", "[A-Za-z]", "[A-Za-z]", 3),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}", 2),
    ("han", r"\p{IsHan}", r"\p{Han}", 1),
    ("greek", r"\p{IsGreek}", r"\p{Greek}", 0),
)


def script_profile(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-script profiling — the CCNet-style script filter that
    precedes stopword language-ID (:func:`lang_scores` assumes it
    already knows the script family; a Cyrillic or Han document scores
    0 on every Latin stopword profile and needs this classifier
    first). Per document: the per-script character counts, the
    dominant script, and the Latin ratio.

    Pure zero-shuffle codegen: one ``regexp_count`` per script class
    fused with the scan (Java ``\\p{IsXxx}`` script classes — the RE2
    ``\\p{Xxx}`` spellings in SCRIPT_CLASSES keep the DuckDB oracle
    selecting identical code points). Dominance is decided on
    ``count * 4 + priority`` — integers unique per script because the
    priorities are distinct — so the argmax is a deterministic chain
    of codegen comparisons, no explode, no exchange, identical in any
    engine. At 100 TB this runs at scan speed like every operator in
    this module.
    """
    # coalesce: regexp_count(NULL) is NULL, which would fall through
    # every >= comparison and mislabel a null document 'greek' (the
    # ELSE arm); zero counts classify it 'latin' like empty text.
    cnt_cols = [
        F.coalesce(F.regexp_count(F.col(col), F.lit(java_re)), F.lit(0))
        .cast("long")
        .alias(f"n_{name}")
        for name, java_re, _re2, _prio in SCRIPT_CLASSES
    ]
    base = df.select(F.col(id_col), F.col(col), *cnt_cols)
    scores = {
        name: (F.col(f"n_{name}") * 4 + F.lit(prio))
        for name, _j, _r, prio in SCRIPT_CLASSES
    }
    names = [name for name, *_ in SCRIPT_CLASSES]
    # argmax by unique score: nested >= chain, deterministic everywhere
    expr = None
    for i, name in enumerate(names):
        cond = None
        for other in names[i + 1 :]:
            c = scores[name] >= scores[other]
            cond = c if cond is None else (cond & c)
        if cond is None:  # last class: the ELSE arm
            expr = expr.otherwise(F.lit(name))
        elif expr is None:
            expr = F.when(cond, F.lit(name))
        else:
            expr = expr.when(cond, F.lit(name))
    total = sum(F.col(f"n_{n}") for n in names)
    return base.select(
        id_col,
        *[F.col(f"n_{n}") for n in names],
        expr.alias("dominant_script"),
        F.round(
            F.col("n_latin") / F.greatest(total, F.lit(1)), 6
        ).alias("latin_ratio"),
    )


def stupid_backoff_scores(
    train: DataFrame,
    score: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trigram language-model scoring with STUPID BACKOFF (Brants et
    al., EMNLP 2007 — the scheme invented FOR distributed web-scale
    LMs: no discounting pass, no normalization, every level a plain
    count ratio, which is why it MapReduces where Kneser-Ney doesn't).
    Completes the LM-quality-filter family: t14 scores unigram
    typicality, t18 smoothed bigram conditionals on the training
    corpus itself; this scores HELD-OUT documents against a model
    trained on the rest, so the backoff path genuinely fires on
    unseen trigrams (self-scoring never backs off — every observed
    trigram has count ≥ 1).

    Per held-out trigram w1 w2 w3:

    * seen:            S = c(w1w2w3) / c(w1w2)
    * backoff level 1: S = 0.4 · c(w2w3) / c(w2)
    * backoff level 2: S = 0.16 · c(w3) / N
    * OOV: 0

    Integer-exact cross-engine: each level is ONE correctly-rounded
    IEEE divide of exactly-representable integers scaled to 1e-9
    units — 0.4 = 2/5 and 0.16 = 4/25 fold into the integer
    numerator/denominator (2·c·1e9 stays under 2^53 for counts up to
    ~4.5M; swap to decimal(38,0) beyond that), the t18 recipe
    extended to the backoff chain. Scores sum per document as longs.

    Plan: three count aggregates over the training corpus (trigram /
    bigram / unigram — map-side partial, keys are md5-compressible
    but kept as strings here since the model relations join by key
    once), then the held-out trigrams LEFT-join the three models on
    their keys; the unigram model and corpus-size row broadcast. Per
    level the exchange carries (key, count) — never document text.
    All levels tokenize identically: empty tokens (consecutive
    spaces) are dropped BEFORE n-gram construction, so no level ever
    builds an ''-containing n-gram whose backoff would divide by a
    NULL unigram count. Returns (id_col, n_trigrams, n_seen,
    n_backoff1, n_backoff2, n_oov, sb_e9, mean_sb_e9).
    """
    toks_expr = F.filter(F.split(F.col(col), " "), lambda t: t != "")

    def ngram_rows(df: DataFrame, n: int, alias: str, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        base = df.select(*cols, toks_expr.alias("tk")).filter(F.size("tk") >= n)
        tk = F.col("tk")
        return base.select(
            *cols,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(tk, i),
                        *[F.element_at(tk, i + F.lit(j)) for j in range(1, n)],
                    ),
                )
            ).alias(alias),
        )

    tri_train = ngram_rows(train, 3, "tri", with_id=False)
    c123 = tri_train.groupBy("tri").agg(F.count("*").alias("c123"))
    toks_train = train.select(F.explode(toks_expr).alias("w"))
    big_train = ngram_rows(train, 2, "bg", with_id=False)
    c_bg = big_train.groupBy("bg").agg(F.count("*").alias("cbg"))
    c_uni = toks_train.groupBy("w").agg(F.count("*").alias("c1"))
    n_total = toks_train.agg(F.count("*").alias("n_tok"))

    tri = ngram_rows(score, 3, "tri", with_id=True).select(
        id_col,
        "tri",
        F.concat_ws(
            " ",
            F.split_part(F.col("tri"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("tri"), F.lit(" "), F.lit(2)),
        ).alias("ctx12"),
        F.concat_ws(
            " ",
            F.split_part(F.col("tri"), F.lit(" "), F.lit(2)),
            F.split_part(F.col("tri"), F.lit(" "), F.lit(3)),
        ).alias("ctx23"),
        F.split_part(F.col("tri"), F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part(F.col("tri"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    joined = (
        tri.join(c123, "tri", "left")
        .join(c_bg.select(F.col("bg").alias("ctx12"), F.col("cbg").alias("c12")), "ctx12", "left")
        .join(c_bg.select(F.col("bg").alias("ctx23"), F.col("cbg").alias("c23")), "ctx23", "left")
        .join(F.broadcast(c_uni.select(F.col("w").alias("w2"), F.col("c1").alias("c2"))), "w2", "left")
        .join(F.broadcast(c_uni.select(F.col("w").alias("w3"), F.col("c1").alias("c3"))), "w3", "left")
        .crossJoin(F.broadcast(n_total))
    )
    seen = F.col("c123").isNotNull()
    bo1 = F.col("c23").isNotNull()
    bo2 = F.col("c3").isNotNull()
    score_e9 = (
        F.when(seen, F.round(F.col("c123") * F.lit(1e9) / F.col("c12")))
        .when(bo1, F.round(F.col("c23") * F.lit(2e9) / (F.col("c2") * 5)))
        .when(bo2, F.round(F.col("c3") * F.lit(4e9) / (F.col("n_tok") * 25)))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.sum(seen.cast("long")).cast("long").alias("n_seen"),
            F.sum((~seen & bo1).cast("long")).cast("long").alias("n_backoff1"),
            F.sum((~seen & ~bo1 & bo2).cast("long")).cast("long").alias("n_backoff2"),
            F.sum((~seen & ~bo1 & ~bo2).cast("long")).cast("long").alias("n_oov"),
            F.sum(score_e9).cast("long").alias("sb_e9"),
        )
        .withColumn("mean_sb_e9", F.round(F.col("sb_e9") / F.col("n_trigrams"), 3))
    )
