"""LLM-data-pipeline queries over documents/embeddings: dedup
(exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding cosine),
similarity search (brute-force + LSH ANN), and text analysis.

Every query has a DuckDB oracle. Portability trick: all hashing is
md5-based (identical hex in both engines), all float reductions are
sequential-order folds (identical IEEE ops), so even MinHash and
SimHash signatures hash-match the oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_spark.functions.hashing import (
    duckdb_md5_long,
    duckdb_md5_prefix,
    md5_long,
)
from kafka_flink_spark.operators import dedup as D
from kafka_flink_spark.operators import similarity as S
from kafka_flink_spark.operators import text as X
from kafka_flink_spark.operators.iterative import pin
from kafka_flink_spark.sources.fixtures import load_table
from kafka_flink_spark.suite import register

# --- shared DuckDB SQL fragments ---------------------------------------------

_SHINGLES_CTE = f"""
sh AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w) - 1)])
                ELSE [array_to_string(w, ' ')] END AS shingles
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
"""

_QUERY_IDS = (0, 1, 2)  # similarity-search probe vectors
_ANN_PLANES = 4  # 16 buckets over 500 fixture vectors ≈ 30 candidates each


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


# --- text analysis ------------------------------------------------------------


@register(
    "t1_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS BIGINT) AS n_tokens
FROM documents
""",
    doc="Token counting: whitespace words + BPE-ish regex segments.",
)
def t1_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.token_counts(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "n_tokens"
    )


@register(
    "t2_quality_scores",
    oracle="""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round((n_chars - (n_words - 1)) * 1.0 / greatest(n_words, 1), 6) AS mean_word_len,
       round(n_punct * 1.0 / greatest(n_chars, 1), 6) AS punct_ratio,
       round(n_stop * 1.0 / greatest(n_words, 1), 6) AS stopword_ratio,
       round(least(n_words / 100.0, 1.0) * 0.4
             + (1.0 - least(n_punct * 1.0 / greatest(n_chars, 1) * 4, 1.0)) * 0.3
             + least(n_stop * 1.0 / greatest(n_words, 1) * 5, 1.0) * 0.3, 6) AS quality_score
FROM (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> list_contains(['a','the','of','and','to','in','is','it'], t))) AS n_stop
    FROM documents
)
""",
    doc="Heuristic quality scoring: length, punctuation ratio, mean "
    "word length, stopword ratio — pre-training filter features.",
)
def t2_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_scores(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_words", "mean_word_len", "punct_ratio", "stopword_ratio", "quality_score"
    )


def _lang_id_oracle() -> str:
    score_cols = ",\n       ".join(
        f"{X.duckdb_lang_score(lang)} AS score_{lang}" for lang in X.LANG_ORDER
    )
    branches = []
    for i, lang in enumerate(X.LANG_ORDER):
        rest = X.LANG_ORDER[i + 1 :]
        if rest:
            cond = " AND ".join(f"score_{lang} >= score_{o}" for o in rest)
            branches.append(f"WHEN {cond} THEN '{lang}'")
        else:
            branches.append(f"ELSE '{lang}'")
    case = "CASE " + " ".join(branches) + " END"
    return f"""
SELECT doc_id, lang, score_en, score_de, score_es, score_fr, score_zh,
       {case} AS pred_lang
FROM (SELECT doc_id, lang, {score_cols} FROM documents)
"""


@register(
    "t3_lang_id",
    oracle=_lang_id_oracle(),
    doc="Language-ID heuristic: per-language function-word ratios, "
    "argmax with deterministic tie order.",
)
def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.lang_scores(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        *[f"score_{lang}" for lang in X.LANG_ORDER],
        "pred_lang",
    )


@register(
    "t4_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(lower(trim(text))) AS fp_md5,
       {duckdb_md5_long("lower(trim(text))")} AS fp_long
FROM documents
""",
    doc="Document fingerprinting: md5 of normalized text + 60-bit "
    "integer form.",
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fp_md5", "fp_long"
    )


# --- dedup ---------------------------------------------------------------------


@register(
    "d1_exact_dedup",
    oracle="""
SELECT md5(lower(trim(text))) AS fp,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
""",
    doc="Exact dedup via hash-groupBy: representative (min id) per "
    "normalized-text md5; shuffle carries 32-byte hashes, not text.",
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "d2_ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_sh AS na, b.n_sh AS nb, count(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, round(c * 1.0 / (na + nb - c), 6) AS jaccard
FROM common
WHERE c * 1.0 / (na + nb - c) >= 0.2
""",
    doc="Exact word-3-gram Jaccard near-dup pairs via shingle inverted "
    "index (the correctness baseline LSH approximates).",
)
def d2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), min_jaccard=0.2)


def _minhash_cand_sql() -> str:
    """The hashed → sig → banded → cand CTE chain (shared by the d3
    oracle and the d10 recall eval); assumes a preceding WITH already
    defined ``sh``. Same scheme as operators/dedup.minhash_signatures:
    one md5 per shingle, permutation p = xor with the md5-derived
    constant K_p."""
    perms = D.NUM_PERMS
    rpb = perms // D.NUM_BANDS
    band_key = " || ':' || ".join(
        f"CAST(mh[b * {rpb} + {r + 1}] AS VARCHAR)" for r in range(rpb)
    )
    k_list = ", ".join(str(D.perm_constant(p)) for p in range(perms))
    return f"""hashed AS (
    SELECT doc_id, shingles,
           list_transform(shingles, s -> {duckdb_md5_long("s")}) AS hs
    FROM sh
),
sig AS (
    SELECT doc_id, shingles,
           list_transform([{k_list}], k ->
               list_min(list_transform(hs, h -> xor(h, k)))) AS mh
    FROM hashed
),
banded AS (
    SELECT doc_id, shingles,
           unnest(range({D.NUM_BANDS})) AS band_id,
           unnest(list_transform(range({D.NUM_BANDS}), b -> {band_key})) AS band_key
    FROM sig
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.shingles AS sa, b.shingles AS sb
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_SHINGLES_CTE},
{_minhash_cand_sql()}
SELECT doc_a, doc_b,
       round(len(list_intersect(sa, sb)) * 1.0 /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM cand
WHERE len(list_intersect(sa, sb)) * 1.0 /
      (len(sa) + len(sb) - len(list_intersect(sa, sb))) >= 0.5
"""


@register(
    "d3_minhash_lsh_pairs",
    oracle=_minhash_oracle(),
    doc="MinHash+LSH near-dup detection: 16 md5-salted permutations, "
    "8 bands × 2 rows, candidates verified with exact shingle Jaccard "
    "≥ 0.5. Signatures are per-row array expressions — no shuffle "
    "until band-bucket join. bucket_cap=None here: the DuckDB oracle "
    "computes exact uncapped banding pairs, so the verification "
    "contract must be exact at ANY scale factor; production callers "
    "keep the default hot-bucket cap.",
)
def d3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.5, bucket_cap=None
    )


# --- d13: the CAPPED (100-TB) dedup path, driver-attested ----------------------
# d3 pins bucket_cap=None so its oracle is exact uncapped banding; the
# hot-bucket cap — the knob that makes the operator survive a 10M-doc
# boilerplate family — had only pytest evidence (VERDICT r5 task 4).
# d13 closes that: a deterministic 48-doc boilerplate family (one
# shared 100-token template + 4 per-member variant tokens) is unioned
# onto documents, which measurably produces 25 DISTINCT signatures
# whose band buckets all exceed bucket_cap=16, so the hub-star route
# actually fires at every SF; the natural corpus keeps exercising the
# small-bucket all-pairs route. The oracle replicates the DOCUMENTED
# emit set exactly: identical signatures collapse to one rep, a pair
# of signature groups is a candidate iff they co-occur in a small
# (<=cap) band bucket OR one of them is an oversized bucket's hub
# (min-rep group; reps are unique so min(rep) identifies it), plus
# all within-group pairs — then exact-Jaccard >= 0.5 verification.
_D13_FAMILY_N = 48
_D13_CAP = 16
_D13_BASE = " ".join(f"tok{j}" for j in range(100))


def _d13_capped_oracle() -> str:
    perms = D.NUM_PERMS
    bands = D.NUM_BANDS
    rpb = perms // bands
    band_key = " || ':' || ".join(
        f"CAST(mh[b * {rpb} + {r + 1}] AS VARCHAR)" for r in range(rpb)
    )
    k_list = ", ".join(str(D.perm_constant(p)) for p in range(perms))
    jac = "len(list_intersect(sa, sb)) * 1.0 / (len(sa) + len(sb) - len(list_intersect(sa, sb)))"
    return f"""
WITH docs_all AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT CAST(9000000 + i AS BIGINT) AS doc_id,
           '{_D13_BASE}' || ' va' || i || ' vb' || i || ' vc' || i || ' vd' || i AS text
    FROM range({_D13_FAMILY_N}) t(i)
),
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs_all),
sh AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    for i in range(1, len(w) - 1)])
                ELSE [array_to_string(w, ' ')] END AS shingles
    FROM w
),
hashed AS (SELECT doc_id, list_transform(shingles, s -> {duckdb_md5_long("s")}) AS hs FROM sh),
sig AS (
    SELECT doc_id,
           list_transform([{k_list}], k ->
               list_min(list_transform(hs, h -> xor(h, k)))) AS mh
    FROM hashed
),
members AS (SELECT doc_id, md5(array_to_string(mh, ':')) AS gfp FROM sig),
reps AS (
    SELECT md5(array_to_string(mh, ':')) AS gfp,
           min_by(mh, doc_id) AS mh,
           min(doc_id) AS rep,
           count(*) AS n
    FROM sig GROUP BY 1
),
banded AS (
    SELECT gfp, rep,
           unnest(range({bands})) AS band_id,
           unnest(list_transform(range({bands}), b -> {band_key})) AS band_key
    FROM reps
),
bk AS (
    SELECT gfp, rep, band_id, band_key,
           count(*) OVER (PARTITION BY band_id, band_key) AS bn,
           min(rep) OVER (PARTITION BY band_id, band_key) AS hub_rep
    FROM banded
),
hubs AS (SELECT band_id, band_key, gfp AS hub_gfp FROM bk WHERE rep = hub_rep),
small_pairs AS (
    SELECT a.gfp AS gfp_a, b.gfp AS gfp_b
    FROM bk a JOIN bk b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.rep < b.rep
    WHERE a.bn <= {_D13_CAP}
),
star_pairs AS (
    SELECT h.hub_gfp AS gfp_a, m.gfp AS gfp_b
    FROM bk m JOIN hubs h ON m.band_id = h.band_id AND m.band_key = h.band_key
    WHERE m.bn > {_D13_CAP} AND m.gfp <> h.hub_gfp
),
grp_pairs AS (
    SELECT DISTINCT gfp_a, gfp_b
    FROM (SELECT * FROM small_pairs UNION ALL SELECT * FROM star_pairs)
),
cross_pairs AS (
    SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
           greatest(ma.doc_id, mb.doc_id) AS doc_b
    FROM grp_pairs g
    JOIN members ma ON ma.gfp = g.gfp_a
    JOIN members mb ON mb.gfp = g.gfp_b
),
within_pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM members a JOIN members b ON a.gfp = b.gfp AND a.doc_id < b.doc_id
),
cand AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs)
SELECT c.doc_a, c.doc_b, round({jac}, 6) AS jaccard
FROM cand c
JOIN (SELECT doc_id, shingles AS sa FROM sh) a ON a.doc_id = c.doc_a
JOIN (SELECT doc_id, shingles AS sb FROM sh) b ON b.doc_id = c.doc_b
WHERE {jac} >= 0.5
"""


@register(
    "d13_minhash_capped_skew",
    oracle=_d13_capped_oracle(),
    doc="MinHash+LSH with the hot-bucket cap ENGAGED (bucket_cap=16) "
    "over documents plus a deterministic 48-doc boilerplate family "
    "that forces 25 distinct signatures into every band bucket — the "
    "100-TB skew configuration d3 deliberately pins off for oracle "
    "exactness. The oracle reproduces the operator's documented "
    "bounded-recall emit set (identical-signature collapse, "
    "small-bucket all-pairs, oversized-bucket hub star on the "
    "min-rep group, within-group pairs, exact-Jaccard >= 0.5 "
    "verification), so the scale knob itself is hash-green rather "
    "than pytest-only. Scale: the family's m^2/2 x num_bands join "
    "blowup collapses to m-1 star rows per oversized bucket; join "
    "input is never quadratic-amplified (operators/dedup.py "
    "minhash_lsh_pairs bucket-cap contract).",
)
def d13_minhash_capped_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("id").cast("string")
    fam = spark.range(_D13_FAMILY_N).select(
        (F.lit(9000000) + F.col("id")).cast("long").alias("doc_id"),
        F.concat(
            F.lit(_D13_BASE),
            F.lit(" va"), i, F.lit(" vb"), i, F.lit(" vc"), i, F.lit(" vd"), i,
        ).alias("text"),
    )
    return D.minhash_lsh_pairs(
        docs.unionByName(fam), min_jaccard=0.5, bucket_cap=_D13_CAP
    )


def _simhash_sig_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END)"
        for i in range(D.SIMHASH_BITS)
    )
    tok_hash = duckdb_md5_long("t")
    return f"""
WITH hashed AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), t -> {tok_hash}) AS hs
    FROM documents
)
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM hashed
"""


@register(
    "d4_simhash_signatures",
    oracle=_simhash_sig_sql(),
    doc="SimHash 60-bit signatures: per-token md5 bit votes, computed "
    "as per-row higher-order folds (one md5 per token, no explode).",
)
def d4_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(load_table(spark, sf_dir, "documents"))


def _simhash_pairs_sql(max_hamming: int = 6) -> str:
    # Brute-force all-pairs: the SEMANTIC definition of the query. The
    # Spark side reaches the identical answer via pigeonhole chunk
    # banding (num_chunks = max_hamming + 1 disjoint bit ranges ⇒ any
    # pair within the threshold shares a chunk — full recall), which is
    # the O(n·bucket) plan that survives 100 TB where this O(n²) oracle
    # would not.
    return f"""
WITH sig AS ({_simhash_sig_sql()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register(
    "d5_simhash_near_pairs",
    oracle=_simhash_pairs_sql(),
    doc="SimHash near-dup pairs: chunk banding with the pigeonhole "
    "guarantee (7 disjoint chunks > max_hamming 6 ⇒ full recall), "
    "candidates verified with exact bit_count(xor) hamming ≤ 6; the "
    "oracle is the brute-force all-pairs definition. bucket_cap=None "
    "here so the full-recall pigeonhole contract vs the exact oracle "
    "holds at any scale factor; production callers keep the cap.",
)
def d5_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=6, bucket_cap=None
    ).withColumn("hamming", F.col("hamming").cast("int"))


@register(
    "d6_embedding_near_dup",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_duck_cosine("a.v", "b.v")}, 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round({_duck_cosine("a.v", "b.v")}, 6) >= 0.35
""",
    doc="Embedding-cosine near-dup pairs (all-pairs exact baseline; "
    "scale path buckets with lsh_bucket first).",
)
def d6_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"), min_cosine=0.35)


# --- similarity search ----------------------------------------------------------


@register(
    "v1_cosine_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN {_QUERY_IDS}),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round({_duck_cosine("q.qv", "e.v")}, 6) AS cos_sim
    FROM e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
""",
    doc="Brute-force cosine top-10 for 3 probe vectors: broadcast "
    "query set, zip_with/aggregate dot products, window rank.",
)
def v1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.cosine_topk(emb, queries, k=10)


def _ann_oracle() -> str:
    # Reproduce the md5-derived hyperplanes and sign-bit bucketing.
    plane_hash = duckdb_md5_long("p || ':' || i", salt="plane:")
    plane = (
        f"list_transform(range({S.EMBED_DIM}), i -> "
        f"({plane_hash} % 2000000) / 1000000.0 - 1.0)"
    )
    bucket = (
        f"list_sum(list_transform(range({_ANN_PLANES}), p -> "
        f"CASE WHEN list_dot_product(v, {plane}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id IN {_QUERY_IDS}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round({_duck_cosine("q.qv", "c.v")}, 6) AS cos_sim
    FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
"""


@register(
    "v2_lsh_ann_topk",
    oracle=_ann_oracle(),
    doc="LSH-bucketed ANN top-10: md5-derived random hyperplanes, "
    "sign-bit buckets, exact rank within the query's bucket.",
)
def v2_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.lsh_ann_topk(emb, queries, k=10, num_planes=_ANN_PLANES)


# --- multimodal plumbing ---------------------------------------------------------

_MEDIA_ORACLE_CTE = """
media AS (
    SELECT doc_id AS media_id,
           (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
           text AS payload,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS h
    FROM documents
)
"""


def _hex_byte(i: int) -> str:
    """Byte i of an md5 hex digest as INT (mirrors hashlib digest[i])."""
    return f"CAST(('0x' || substr(h, {2 * i + 1}, 2)) AS INT)"


@register(
    "m1_media_decode",
    oracle=f"""
WITH {_MEDIA_ORACLE_CTE}
SELECT media_id, media_type, CAST(n_bytes AS BIGINT) AS n_bytes,
       {_hex_byte(0)} + 1 AS width,
       {_hex_byte(1)} + 1 AS height,
       {_hex_byte(2)} % 10 + 1 AS n_frames
FROM media
""",
    doc="Multimodal decode plumbing: binary payload column → typed "
    "metadata via Arrow-batched mapInPandas (decoder itself is a "
    "deterministic md5 stub; real decode raises NotImplementedError).",
)
def m1_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import blobs_from_documents, decode_media

    media = blobs_from_documents(load_table(spark, sf_dir, "documents"))
    return decode_media(media)


@register(
    "m2_frame_samples",
    oracle=f"""
WITH {_MEDIA_ORACLE_CTE}
SELECT media_id, CAST(f AS INT) AS frame_id,
       md5(payload || CAST(f AS VARCHAR)) AS frame_fp
FROM (SELECT media_id, payload, unnest(range(0, {_hex_byte(2)} % 10 + 1, 2)) AS f
      FROM media WHERE media_type = 'video')
""",
    doc="Video frame sampling: 1-to-N mapInPandas (explode-shaped UDF), "
    "every-2nd-frame policy, deterministic frame fingerprints.",
)
def m2_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import blobs_from_documents, sample_frames

    media = blobs_from_documents(load_table(spark, sf_dir, "documents"))
    return sample_frames(media, every_k=2)


@register(
    "m3_media_embed",
    oracle=f"""
WITH {_MEDIA_ORACLE_CTE}
SELECT media_id, CAST(d AS INT) AS dim,
       CAST(('0x' || substr(h, 2 * d + 1, 2)) AS INT) AS byte_val
FROM (SELECT media_id, h, unnest(range(8)) AS d FROM media)
""",
    doc="Media feature-extraction plumbing: binary → array<float> "
    "embedding via vectorized Pandas UDF; verified by projecting the "
    "floats back to their exact byte values.",
)
def m3_media_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import blobs_from_documents, embed_media

    media = blobs_from_documents(load_table(spark, sf_dir, "documents"))
    emb = embed_media(media, dim=8)
    return emb.select(
        "media_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "media_id", "dim", F.round(F.col("v") * 255).cast("int").alias("byte_val")
    )


def _ivf_oracle(query_ids_sql: str | None = None) -> str:
    cos = _duck_cosine
    qids = query_ids_sql or str(_QUERY_IDS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS centroid FROM e ORDER BY vec_id LIMIT {S.N_CELLS}),
cscore AS (
    SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cid,
           round({cos("e.v", "c.centroid")}, 6) AS cos_c
    FROM e CROSS JOIN cents c
),
assigned AS (
    SELECT neighbor_id, cv, cid AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY cos_c DESC, cid) AS arn FROM cscore)
    WHERE arn = 1
),
qscore AS (
    SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
           round({cos("e.v", "c.centroid")}, 6) AS cos_c
    FROM e CROSS JOIN cents c
    WHERE e.vec_id IN {qids}
),
probes AS (
    SELECT query_id, qv, cid AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_c DESC, cid) AS prn FROM qscore)
    WHERE prn <= {S.N_PROBE}
),
scored AS (
    SELECT DISTINCT p.query_id, a.neighbor_id,
           round({cos("p.qv", "a.cv")}, 6) AS cos_sim
    FROM assigned a JOIN probes p ON a.cell = p.cell
    WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
"""


@register(
    "v3_ivf_ann_topk",
    oracle=_ivf_oracle(),
    doc="IVF ANN top-10: deterministic coarse quantizer (lowest-id "
    "vectors as assignment-only centroids), max_by cell assignment, "
    "n_probe-cell candidate probing, exact rank within candidates. A "
    "learned k-means quantizer plugs into the identical dataflow.",
)
def v3_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.ivf_topk(emb, queries, k=10)


@register(
    "pipe1_document_pipeline",
    oracle="""
WITH scored AS (
    SELECT doc_id, text, source,
           len(string_split(text, ' ')) AS n_words,
           round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
                 + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1.0
                                / greatest(length(text), 1) * 4, 1.0)) * 0.3
                 + least(len(list_filter(string_split(text, ' '),
                       t -> list_contains(['a','the','of','and','to','in','is','it'], t)))
                       * 1.0 / greatest(len(string_split(text, ' ')), 1) * 5, 1.0) * 0.3,
                 6) AS quality_score
    FROM documents
),
good AS (SELECT * FROM scored WHERE quality_score >= 0.5),
keep AS (
    SELECT min(doc_id) AS doc_id
    FROM good
    GROUP BY md5(lower(trim(text)))
),
survivors AS (SELECT g.* FROM good g JOIN keep k ON g.doc_id = k.doc_id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(CAST(sum(CAST(round(quality_score * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 4) AS avg_quality
FROM survivors
GROUP BY source
""",
    doc="End-to-end training-data pipeline composition: quality filter "
    "(score >= 0.5) -> exact dedup (min doc_id per normalized-text md5 "
    "among survivors) -> per-source corpus stats. One declarative plan: "
    "the text never shuffles (scores/fingerprints do), filters fuse "
    "with the scan, dedup is a semi join on doc_id.",
)
def pipe1_document_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    good = X.quality_scores(docs).filter(F.col("quality_score") >= 0.5)
    # Exact dedup as ONE window over the quality survivors instead of
    # the groupBy + semi-join pair: the old shape consumed `good` from
    # two plan positions, re-running the quality regex pass per
    # consumer (the round-5 multi-consumer lesson). One fp-keyed
    # shuffle, one corpus pass, identical keep-min-doc semantics.
    fp_min = F.min("doc_id").over(
        Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    )
    survivors = good.withColumn("_min_id", fp_min).filter(
        F.col("doc_id") == F.col("_min_id")
    )
    return survivors.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        # w14 integer recipe: quality_score is a 6-dp value, so the
        # micro-quantized longs sum exactly (order-independent) and the
        # single IEEE divide matches DuckDB bit-for-bit — raw
        # round(avg(double)) is the cross-engine boundary trap the r9
        # sf0.1 sweep caught on w14.
        F.round(
            F.sum(F.round(F.col("quality_score") * 1000000).cast("long")).cast(
                "double"
            )
            / (F.count("*") * 1000000.0),
            4,
        ).alias("avg_quality"),
    )


@register(
    "t5_doc_chunks",
    oracle="""
WITH t AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), s AS (
    SELECT doc_id, lang, toks,
           unnest(generate_series(0, greatest(len(toks) - 1, 0), 48)) AS chunk_start
    FROM t
)
SELECT doc_id, lang,
       CAST(chunk_start // 48 AS BIGINT) AS chunk_no,
       array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 64), ' ')
           AS chunk_text,
       CAST(least(64, len(toks) - chunk_start) AS BIGINT) AS chunk_tokens
FROM s
""",
    doc="Overlapping word-window chunking (64-token chunks, 16-token "
    "overlap) via operators/text.chunk_documents — explode(sequence) "
    "over chunk starts + slice/array_join, a narrow scan-speed fan-out "
    "with no shuffle (the pre-embedding step of a training-data "
    "pipeline).",
)
def t5_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return X.chunk_documents(docs, chunk_size=64, overlap=16).select(
        "doc_id", "lang", "chunk_no", "chunk_text", "chunk_tokens"
    )


@register(
    "t6_hash_sample",
    oracle=f"""
SELECT doc_id, source, lang
FROM documents
WHERE {duckdb_md5_long("CAST(doc_id AS VARCHAR)")} % 100 <
      CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 80
           WHEN source IN ('src18', 'src19') THEN 10
           ELSE 40 END
""",
    doc="Deterministic stratified (mixture-weighted) sampling: keep a "
    "doc iff md5_60bit(doc_id) %% 100 < per-source rate — seedless, "
    "reproducible across engines/runs/partitionings, zero-shuffle "
    "(operators/text.hash_sample). The RNG-free form of the "
    "oversample-curated / downsample-crawl step every training "
    "pipeline runs.",
)
def t6_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.hash_sample(
        load_table(spark, sf_dir, "documents"),
        rates={"src0": 80, "src1": 80, "src2": 80, "src3": 80, "src18": 10, "src19": 10},
        default_rate=40,
    ).select("doc_id", "source", "lang")


@register(
    "t7_tfidf_top_terms",
    oracle="""
WITH tf AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
),
tfc AS (
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM tf GROUP BY 1, 2
),
with_df AS (
    SELECT doc_id, token, tf,
           CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df
    FROM tfc
),
ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY tf DESC, df ASC, token ASC) AS INT) AS rank
    FROM with_df
)
SELECT doc_id, token, tf, df, rank,
       round(tf * ln((SELECT count(*) FROM documents) * 1.0 / df), 6) AS tfidf
FROM ranked
WHERE rank <= 3
""",
    doc="Top-3 tf-idf terms per document; ranking compares the integer "
    "pair (tf DESC, df ASC) with token as tie-break so last-ulp ln() "
    "differences between engines can never flip a rank (the float "
    "score is display-only). Shuffles carry (doc, token, tf), never "
    "document text.",
)
def t7_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


@register(
    "t8_bigram_counts",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
    SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
    FROM toks WHERE len(w) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 50
""",
    doc="Corpus-level top-50 word bigrams (contamination-check / corpus "
    "stats primitive): per-row bigram derivation, map-side partial "
    "counts, TakeOrderedAndProject top-N — no global sort, shuffle "
    "carries (bigram, count).",
)
def t8_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bigram_counts(load_table(spark, sf_dir, "documents"), top_n=50)


def _multiprobe_oracle() -> str:
    plane_hash = duckdb_md5_long("p || ':' || i", salt="plane:")
    plane = (
        f"list_transform(range({S.EMBED_DIM}), i -> "
        f"({plane_hash} % 2000000) / 1000000.0 - 1.0)"
    )
    bucket = (
        f"list_sum(list_transform(range({_ANN_PLANES}), p -> "
        f"CASE WHEN list_dot_product(v, {plane}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id IN {_QUERY_IDS}),
q AS (
    SELECT query_id, qv,
           unnest(list_prepend(bucket,
               list_transform(range({_ANN_PLANES}),
                              p -> xor(bucket, CAST(1 AS BIGINT) << p)))) AS bucket
    FROM q0
),
scored AS (
    SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id,
           round({_duck_cosine("q.qv", "c.v")}, 6) AS cos_sim
    FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
"""


@register(
    "v4_multiprobe_ann_topk",
    oracle=_multiprobe_oracle(),
    doc="Multi-probe LSH ANN top-10: each query also probes the "
    "hamming-1 buckets (flip one sign bit) — the recall lever that "
    "needs no extra tables; the corpus is bucketed once and only the "
    "tiny query side explodes (operators/similarity.py; recall-vs-v2 "
    "improvement pinned in tests/test_llm_ops.py).",
)
def v4_multiprobe_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.multiprobe_lsh_ann_topk(emb, queries, k=10, num_planes=_ANN_PLANES)


@register(
    "t9_pack_documents",
    oracle=f"""
WITH base AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST({duckdb_md5_long("CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
    FROM documents
),
with_off AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
    FROM base
)
SELECT doc_id, shard, n_tokens,
       shard * 1000000 + CAST(floor(start_offset / 8192) AS BIGINT) AS pack_id,
       -- DuckDB sum() OVER yields HUGEINT which pandas renders float64;
       -- Spark sends int64 — cast per the suite BIGINT convention
       CAST(start_offset % 8192 AS BIGINT) AS offset_in_pack
FROM with_off
""",
    doc="Deterministic context-window (sequence) packing: hash-sharded, "
    "per-shard cumulative token offsets assign each doc to a fixed-"
    "capacity bin — embarrassingly parallel (no global sort), "
    "reproducible across runs/engines (operators/text.pack_documents).",
)
def t9_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.pack_documents(load_table(spark, sf_dir, "documents"), capacity=8192, num_shards=8)


@register(
    "pipe2_training_mix",
    oracle=f"""
WITH sampled AS (
    SELECT doc_id, text
    FROM documents
    WHERE {duckdb_md5_long("CAST(doc_id AS VARCHAR)")} % 100 <
          CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN 80
               WHEN source IN ('src18', 'src19') THEN 10
               ELSE 40 END
),
good AS (
    SELECT doc_id, text, len(string_split(text, ' ')) AS n_words
    FROM sampled
    WHERE len(string_split(text, ' ')) >= 20
),
keep AS (
    SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(lower(trim(text)))
),
survivors AS (
    SELECT g.doc_id, CAST(g.n_words AS BIGINT) AS n_tokens,
           CAST({duckdb_md5_long("CAST(g.doc_id AS VARCHAR)")} % 8 AS INT) AS shard
    FROM good g JOIN keep k ON g.doc_id = k.doc_id
),
packed AS (
    SELECT shard,
           shard * 1000000 + CAST(floor(
               (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 4096
           ) AS BIGINT) AS pack_id,
           n_tokens
    FROM survivors
)
SELECT shard,
       CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM packed
GROUP BY shard
ORDER BY shard
""",
    doc="Composed training-mix pipeline: deterministic mixture sampling "
    "(t6) -> length filter -> exact dedup (d1, semi join on keeper ids) "
    "-> sequence packing (t9, 4096-token bins) -> per-shard stats. One "
    "declarative plan end to end: text never crosses a shuffle "
    "(fingerprints, token counts and offsets do), every stage is the "
    "registered operator itself — composability is the product.",
)
def pipe2_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = X.hash_sample(
        docs,
        rates={"src0": 80, "src1": 80, "src2": 80, "src3": 80, "src18": 10, "src19": 10},
        default_rate=40,
    )
    good = sampled.withColumn("n_words", F.size(X.tokens("text"))).filter(
        F.col("n_words") >= 20
    )
    # same one-pass window dedup as pipe1 (multi-consumer lesson)
    from pyspark.sql.window import Window

    fp_min = F.min("doc_id").over(
        Window.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    )
    survivors = (
        good.withColumn("_min_id", fp_min)
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )
    packed = X.pack_documents(survivors, capacity=4096, num_shards=8)
    return (
        packed.groupBy("shard")
        .agg(
            F.count_distinct("pack_id").cast("long").alias("n_packs"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("shard")
    )


@register(
    "d7_dedup_clusters",
    oracle=f"""
WITH RECURSIVE sig AS ({_simhash_sig_sql()}),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)
SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a
""",
    doc="Near-dup clustering: connected components over the SimHash "
    "pair graph via distributed min-label propagation (the Pregel "
    "pattern; rounds = component diameter, one join + one aggregate "
    "per round, driver reads only a changed-count scalar) — the "
    "canonical-document-selection step after any pair generator. "
    "Iterative, so the oracle is a recursive CTE.",
)
def d7_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bucket_cap=None: the recursive-CTE oracle clusters the EXACT
    # brute-force pair set, so the verification contract must stay
    # exact at any scale factor (same reasoning as d3/d5).
    pairs = D.simhash_near_pairs(docs, max_hamming=6, bucket_cap=None).select(
        "doc_a", "doc_b"
    )
    return D.dedup_clusters(docs.select("doc_id"), pairs)


@register(
    "m4_media_exact_dedup",
    oracle=f"""
WITH {_MEDIA_ORACLE_CTE}
SELECT md5(payload) AS payload_md5,
       media_type,
       CAST(min(media_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes
FROM media
GROUP BY 1, 2
""",
    doc="Exact dedup over BINARY media payloads: md5 computed at the "
    "scan (32-byte digest shuffles, megabyte blobs never do), one "
    "representative per (digest, modality) — the d1 pattern applied "
    "to the multimodal table.",
)
def m4_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import blobs_from_documents

    media = blobs_from_documents(load_table(spark, sf_dir, "documents"))
    return (
        media.select(
            F.md5(F.col("payload")).alias("payload_md5"),
            "media_type",
            "media_id",
            "n_bytes",
        )
        .groupBy("payload_md5", "media_type")
        .agg(
            F.min("media_id").alias("keep_id"),
            F.count("*").cast("long").alias("n_copies"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )


@register(
    "v5_knn_graph",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round({_duck_cosine("a.v", "b.v")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 5
""",
    doc="Exact k-NN graph over the WHOLE corpus (every vector -> top-5 "
    "cosine neighbors) via the blocked-GEMM two-stage top-k: each "
    "block-pair group emits block-local top-k from one numpy A @ B.T, "
    "a global window rank reduces the k x num_blocks candidates — "
    "exact including ties (block and global ranks share the "
    "(cos DESC, id ASC) order). The neighbor-graph primitive behind "
    "semantic dedup, curriculum sampling, and graph clustering "
    "(operators/similarity.knn_graph).",
)
def v5_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.knn_graph(load_table(spark, sf_dir, "embeddings"), k=5)


def _ann_graph_oracle() -> str:
    # same md5-derived hyperplane bucketing as _ann_oracle, but every
    # vector is a query and candidates come from its own bucket only
    plane_hash = duckdb_md5_long("p || ':' || i", salt="plane:")
    plane = (
        f"list_transform(range({S.EMBED_DIM}), i -> "
        f"({plane_hash} % 2000000) / 1000000.0 - 1.0)"
    )
    bucket = (
        f"list_sum(list_transform(range({_ANN_PLANES}), p -> "
        f"CASE WHEN list_dot_product(v, {plane}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({_duck_cosine("q.v", "c.v")}, 6) AS cos_sim
    FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 5
"""


@register(
    "v7_ann_knn_graph",
    oracle=_ann_graph_oracle(),
    doc="APPROXIMATE k-NN graph — the scale path beside v5's exact "
    "baseline: LSH-bucket every vector (md5-derived sign-bit planes), "
    "exact GEMM top-5 within each bucket only, global window rank. "
    "Total work is sum(|bucket|^2) ~ n^2/2^planes instead of n^2 — "
    "linear at constant occupancy when planes grow with log2(n) "
    "(operators/similarity.ann_knn_graph; recall vs v5 pinned in "
    "tests/test_llm_ops.py).",
)
def v7_ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.ann_knn_graph(
        load_table(spark, sf_dir, "embeddings"), k=5, num_planes=_ANN_PLANES
    )


@register(
    "t10_vocab_coverage",
    oracle="""
WITH counts AS (
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY 1
),
total AS (SELECT sum(n) AS total_tokens FROM counts)
SELECT token, n,
       CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank,
       CAST(sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens,
       CAST(sum(n) OVER (ORDER BY n DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT)
           * 1.0 / (SELECT total_tokens FROM total) AS cum_frac
FROM counts
""",
    doc="Corpus vocabulary Zipf table (operators/text.vocab_coverage): "
    "per-token count, frequency rank, cumulative coverage fraction — "
    "the tokenizer-vocabulary-sizing / OOV-rate primitive. The corpus "
    "explodes and counts map-side (shuffle carries (token, count)); "
    "rank + running sum is one window over the vocabulary-sized "
    "relation only. Fractions are exact-BIGINT ratios — one IEEE "
    "division, engine-identical bits, no rounding.",
)
def t10_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.vocab_coverage(load_table(spark, sf_dir, "documents"))


@register(
    "t11_repetition_signals",
    oracle="""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sizes AS (
    SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
    FROM base
),
uni AS (
    SELECT doc_id, max(c) AS top_word_n
    FROM (SELECT doc_id, t, count(*) AS c
          FROM (SELECT doc_id, unnest(w) AS t FROM base) GROUP BY 1, 2)
    GROUP BY 1
),
bi AS (
    SELECT doc_id, max(c) AS top_bigram_n
    FROM (SELECT doc_id, g, count(*) AS c
          FROM (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
                FROM base WHERE len(w) >= 2)
          GROUP BY 1, 2)
    GROUP BY 1
)
SELECT s.doc_id, s.n_words,
       (s.n_words - s.n_distinct) * 1.0 / greatest(s.n_words, 1) AS dup_word_frac,
       coalesce(u.top_word_n, 0) * 1.0 / greatest(s.n_words, 1) AS top_word_frac,
       coalesce(b.top_bigram_n, 0) * 1.0 / greatest(s.n_words - 1, 1) AS top_bigram_frac
FROM sizes s LEFT JOIN uni u USING (doc_id) LEFT JOIN bi b USING (doc_id)
""",
    doc="Gopher-style repetition quality signals per document "
    "(operators/text.repetition_signals): duplicate-word fraction "
    "(narrow array_distinct at scan speed), top-word share, top-bigram "
    "share (looping-text detector). Mode computations shuffle (doc, "
    "gram) counts, never text; all fractions are exact-integer ratios "
    "— engine-identical without rounding.",
)
def t11_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.repetition_signals(load_table(spark, sf_dir, "documents"))


_DECON_GRAM = "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]"


@register(
    "t12_decontamination",
    oracle=f"""
WITH grams AS (
    SELECT doc_id,
           unnest([{_DECON_GRAM} for i in range(1, len(w) - 3)]) AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    WHERE len(w) >= 5
),
hashed AS (SELECT doc_id, {duckdb_md5_long("gram")} AS gram_h FROM grams),
train AS (SELECT * FROM hashed WHERE doc_id % 50 <> 0),
bench AS (SELECT doc_id AS bench_id, gram_h FROM hashed WHERE doc_id % 50 = 0),
totals AS (SELECT doc_id, CAST(count(DISTINCT gram_h) AS BIGINT) AS n_grams
           FROM train GROUP BY 1),
hits AS (
    SELECT t.doc_id,
           CAST(count(DISTINCT t.gram_h) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
    FROM train t JOIN bench b ON t.gram_h = b.gram_h
    GROUP BY 1
)
SELECT h.doc_id, n_shared_grams, n_bench_docs, n_grams,
       n_shared_grams * 1.0 / n_grams AS contaminated_frac
FROM hits h JOIN totals t USING (doc_id)
""",
    doc="Benchmark decontamination (operators/text.decontaminate): flag "
    "training docs sharing any word-5-gram with the held-out benchmark "
    "slice (doc_id %% 50 == 0 here; any eval table plugs in). Grams "
    "md5-hash to 60-bit longs BEFORE shuffling (8-byte keys, text "
    "never crosses an exchange); the benchmark gram set is tiny and "
    "broadcasts — at 100 TB this is one narrow scan + broadcast join. "
    "Counts and the contaminated fraction are exact integers/ratios.",
)
def t12_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return X.decontaminate(train, bench, n=5)


def _quantized_oracle() -> str:
    q = (
        "CASE WHEN his[d+1] = los[d+1] THEN CAST(0 AS BIGINT) "
        "ELSE CAST(least(floor((v[d+1] - los[d+1]) * 256.0 / (his[d+1] - los[d+1])), 255) AS BIGINT) "
        "END - 128"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
stats AS (
    SELECT d, min(v[d+1]) AS lo, max(v[d+1]) AS hi
    FROM e, range({S.EMBED_DIM}) t(d) GROUP BY d
),
rng AS (SELECT list(lo ORDER BY d) AS los, list(hi ORDER BY d) AS his FROM stats),
q8 AS (
    SELECT vec_id, [{q} for d in range({S.EMBED_DIM})] AS qv
    FROM e, rng
),
q AS (SELECT vec_id AS query_id, qv AS qq FROM q8 WHERE vec_id IN {_QUERY_IDS}),
scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range({S.EMBED_DIM}),
                d -> qq[d+1] * c.qv[d+1])) AS BIGINT) AS q_dot
    FROM q8 c, q WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, q_dot, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY q_dot DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
"""


@register(
    "v6_quantized_topk",
    oracle=_quantized_oracle(),
    doc="int8 scalar-quantized top-k (operators/similarity."
    "scalar_quantize / quantized_topk): per-dimension corpus min/max "
    "grid, floor-encoded codes in [-128, 127] (floor, not round — "
    "round() tie-breaking is engine-specific, floor of the identical "
    "IEEE expression never is), ranked by all-integer quantized dot "
    "product. The compressed-domain scoring pass of a quantized ANN "
    "index — 4x smaller than float32, int8 GEMM-able; recall vs exact "
    "cosine (v1) pinned in tests/test_llm_ops.py.",
)
def v6_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.quantized_topk(
        load_table(spark, sf_dir, "embeddings"), list(_QUERY_IDS), k=10
    )


def _semantic_dedup_oracle() -> str:
    cos = _duck_cosine
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS centroid FROM e ORDER BY vec_id LIMIT {S.N_CELLS}),
cscore AS (
    SELECT e.vec_id AS vid, e.v, c.cid,
           round({cos("e.v", "c.centroid")}, 6) AS cos_c
    FROM e CROSS JOIN cents c
),
assigned AS (
    SELECT vid, v, cid AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY vid
              ORDER BY cos_c DESC, cid) AS arn FROM cscore)
    WHERE arn = 1
)
SELECT a.vid AS id_a, b.vid AS id_b, a.cell,
       round({cos("a.v", "b.v")}, 6) AS cos_sim
FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vid < b.vid
WHERE round({cos("a.v", "b.v")}, 6) >= 0.35
"""


@register(
    "d8_semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup-style semantic dedup (operators/similarity."
    "semantic_dedup_pairs): coarse-cluster the corpus against "
    "deterministic assignment-only centroids (broadcast cross-score + "
    "max_by, no corpus self-join), then near-dup pairs (cosine >= "
    "0.35) WITHIN each cell only — quadratic work bounded by cluster "
    "size, the published recipe for billion-document corpora. A "
    "learned k-means quantizer plugs into the identical dataflow.",
)
def d8_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.semantic_dedup_pairs(
        load_table(spark, sf_dir, "embeddings"), min_cosine=0.35
    )


def _pii_synth_duck() -> str:
    """DuckDB mirror of the PII synthesis in t13 (fixture docs carry no
    PII, so the query plants deterministic PII to redact)."""
    return """
SELECT doc_id,
       text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            || ' or +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
            || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            || CASE WHEN doc_id % 3 = 0
                    THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         AS text
FROM documents
"""


_PII_ORACLE = f"""
WITH synth AS ({_pii_synth_duck()})
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b')) AS BIGINT) AS n_ssn,
       CAST(len(regexp_extract_all(text, '\\+[0-9]{{1,2}}-[0-9]{{2,4}}-[0-9]{{3,4}}-[0-9]{{4}}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b', '<SSN>', 'g'),
           '\\+[0-9]{{1,2}}-[0-9]{{2,4}}-[0-9]{{3,4}}-[0-9]{{4}}', '<PHONE>', 'g'),
         '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b', '<IP>', 'g') AS text
FROM synth
"""


@register(
    "t13_pii_redaction",
    oracle=_PII_ORACLE,
    doc="PII scrubbing (operators/text.redact_pii): plant deterministic "
    "emails/phones/IPs/SSNs into the fixture docs, then count and "
    "redact them with typed placeholder tags in one fixed-order chain "
    "of regexp_count/regexp_replace expressions. All-narrow: the whole "
    "pass fuses into the scan stage (zero shuffle), the only "
    "acceptable shape for a 100 TB redaction sweep. Patterns are "
    "Java-regex/RE2 portable (no lookarounds, no backreferences).",
)
def t13_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.lit(" or +1-555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".0.1"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ),
    )
    return X.redact_pii(synth, "text")


@register(
    "t14_token_freq_score",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
total AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(v.c) AS BIGINT) AS sum_freq,
       round(sum(v.c) * 1.0 / (count(*) * (SELECT n FROM total)), 9) AS freq_score
FROM tok t JOIN vocab v ON t.w = v.w
GROUP BY t.doc_id
""",
    doc="Unigram-likelihood quality proxy (the LM-scoring stand-in "
    "used to rank corpus docs by 'typicality'): corpus unigram counts "
    "-> per-doc mean token frequency = sum(count(w)) / (n_tokens * N). "
    "Two passes over the token relation with a broadcast vocab join; "
    "all arithmetic stays integer until the final division, so the "
    "score is bit-reproducible under any partitioning (no "
    "transcendental logs whose last ulp differs across engines). At "
    "100 TB the vocab aggregate is the only corpus-wide exchange and "
    "the per-doc pass is a broadcast join.",
)
def t14_token_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = tok.agg(F.count("*").alias("n"))
    return (
        tok.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("sum_freq"),
            F.round(
                F.sum("c") / (F.count("*") * F.first("n")),
                9,
            ).alias("freq_score"),
        )
    )


@register(
    "m5_binary_file_ingest",
    oracle="""
SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS file_stem,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
""",
    doc="Raw-binary ingestion via the binaryFile source — the first "
    "hop of every multimodal pipeline (image/audio blobs land as "
    "files, not rows): one .bin object per doc is written from the "
    "executors (foreachPartition; object storage at scale), read "
    "back as (path, length, content) rows, and fingerprinted with "
    "md5 over the binary column. The oracle recomputes byte length "
    "and digest from the source text, so round-trip byte fidelity "
    "is what's actually being hash-checked.",
)
def m5_binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from kafka_flink_spark.sources.fixtures import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # scratch outlives the returned frame (atexit cleanup) — see
    # scratch_dir for the local-mode shared-filesystem assumption; on a
    # cluster the blob path must be shared storage.
    tmp = scratch_dir("blobs_")

    def write_blobs(rows) -> None:
        for r in rows:
            path = os.path.join(tmp, f"doc_{r.doc_id:06d}.bin")
            with open(path, "wb") as f:
                f.write(r.text.encode("utf-8"))

    docs.foreachPartition(write_blobs)
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(tmp)
    )
    return blobs.select(
        F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"(.+)\.bin$", 1
        ).alias("file_stem"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "pipe3_leakage_safe_split",
    oracle=f"""
WITH RECURSIVE sig AS ({_simhash_sig_sql()}),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
assigned AS (
    SELECT d.doc_id, c.cluster_id,
           {duckdb_md5_long("CAST(c.cluster_id AS VARCHAR)", salt="split:")}
               % 100 AS bucket,
           len(string_split(d.text, ' ')) AS n_words
    FROM documents d JOIN clusters c USING (doc_id)
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM assigned
GROUP BY 1
""",
    doc="Leakage-safe train/val/test split: near-dup clusters (d7's "
    "connected components over the SimHash pair graph) are the unit "
    "of assignment — the split bucket is md5(cluster_id) % 100, so "
    "every member of a near-dup cluster lands in the SAME split and "
    "eval contamination via near-duplicates is structurally "
    "impossible (the held-out-split hygiene step after any dedup "
    "pass). Deterministic hash split, no sampling state; the oracle "
    "recomputes clusters with a recursive CTE.",
)
def pipe3_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bucket_cap=None: the recursive-CTE oracle clusters the EXACT
    # brute-force pair set, so the verification contract must stay
    # exact at any scale factor (same reasoning as d3/d5).
    pairs = D.simhash_near_pairs(docs, max_hamming=6, bucket_cap=None).select(
        "doc_a", "doc_b"
    )
    clusters = D.dedup_clusters(docs.select("doc_id"), pairs)
    bucket = md5_long(F.col("cluster_id").cast("string"), salt="split:") % 100
    assigned = (
        docs.select("doc_id", F.size(F.split("text", " ")).alias("n_words"))
        .join(clusters, "doc_id")
        .withColumn("bucket", bucket)
    )
    return (
        assigned.withColumn(
            "split",
            F.when(F.col("bucket") < 80, "train")
            .when(F.col("bucket") < 90, "val")
            .otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
    )


@register(
    "t15_vocab_encode",
    oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(ws) AS w,
           unnest(range(1, len(ws) + 1)) AS ord
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
vocab AS (
    SELECT w, CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS INT) AS id
    FROM tok GROUP BY w
    QUALIFY id <= 20
),
enc AS (
    SELECT tok.doc_id, tok.ord, coalesce(v.id, 0) AS id
    FROM tok LEFT JOIN vocab v ON tok.w = v.w
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       array_to_string(list(id ORDER BY ord), ',') AS ids
FROM enc
GROUP BY doc_id
""",
    doc="Vocabulary encoding — the tokenizer-adjacent step that turns "
    "text into model-ready int sequences: top-20 tokens by (count "
    "DESC, token) get dense ids 1..20, everything else encodes as 0 "
    "(OOV), and each doc becomes its ordered id array (order "
    "preserved via posexplode + sorted-struct reassembly, since "
    "collect_list alone has no order guarantee). The vocab is a "
    "broadcast map; the only corpus-wide exchanges are the frequency "
    "count and the per-doc reassembly.",
)
def t15_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    # top-k via distributed orderBy().limit(): map-side partial top-20 per
    # partition, merged on one reducer — NOT a global row_number window over
    # every distinct token (single-partition sort of the whole vocabulary
    # at corpus scale). The residual window then numbers only 20 rows.
    wv = Window.orderBy(F.desc("cnt"), F.asc("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(20)
        .withColumn("id", F.row_number().over(wv).cast("int"))
        .select("w", "id")
    )
    enc = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum((F.col("id") == 0).cast("int")).cast("long").alias("n_oov"),
            # rendered as a ','-joined string, not array<int>: the driver's
            # canonicalizer sorts all columns in pandas and numpy arrays are
            # unhashable (suite conventions header — array-columns rule)
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda x: x.id.cast("string"),
                ),
                ",",
            ).alias("ids"),
        )
    )


@register(
    "m6_media_resize",
    oracle=f"""
WITH {_MEDIA_ORACLE_CTE},
decoded AS (
    SELECT media_id,
           {_hex_byte(0)} + 1 AS width,
           {_hex_byte(1)} + 1 AS height
    FROM media
),
dims AS (
    SELECT media_id, width, height,
           greatest(width, height) AS longest
    FROM decoded
),
resized AS (
    SELECT media_id, width, height,
           CASE WHEN longest > 64
                THEN greatest(CAST(width * 64 // longest AS INT), 1)
                ELSE width END AS out_width,
           CASE WHEN longest > 64
                THEN greatest(CAST(height * 64 // longest AS INT), 1)
                ELSE height END AS out_height
    FROM dims
)
SELECT media_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(out_width AS INT) AS out_width, CAST(out_height AS INT) AS out_height,
       md5(CAST(media_id AS VARCHAR) || ':' || CAST(out_width AS VARCHAR)
           || 'x' || CAST(out_height AS VARCHAR)) AS resized_fp
FROM resized
""",
    doc="Multimodal resize plumbing (operators/multimodal.resize_media): "
    "aspect-preserving fit into a 64px box with pure-integer target "
    "dims (floor division — no float rounding to disagree across "
    "engines) computed in an Arrow-batched mapInPandas, plus a "
    "deterministic fingerprint of the would-be resized payload. Real "
    "pixel resampling is the gated real=True path (PIL absent here); "
    "the batch shape, schema, and narrow no-shuffle plan are the "
    "product.",
)
def m6_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import (
        blobs_from_documents,
        decode_media,
        resize_media,
    )

    media = blobs_from_documents(load_table(spark, sf_dir, "documents"))
    return resize_media(decode_media(media), max_dim=64)


@register(
    "m7_real_media_probe",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'gif' END AS format,
       CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 31 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 3 <> 1 THEN CAST(doc_id % 17 + 1 AS INT) END AS height,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1
                            WHEN 1 THEN doc_id % 1000 + 100
                            ELSE doc_id % 10 + 1 END AS INT) AS n_frames,
       CASE WHEN doc_id % 3 = 1 THEN CAST(8000 AS INT) END AS sample_rate,
       CASE WHEN doc_id % 3 = 1 THEN CAST(1 AS INT) END AS n_channels,
       CASE WHEN doc_id % 3 = 1
            THEN CAST((doc_id % 1000 + 100) * 1000 // 8000 AS BIGINT)
       END AS duration_ms
FROM documents
""",
    doc="REAL media decoding, byte-level round-trip: format-valid "
    "blobs are synthesized per doc (CRC-correct PNG, stdlib-wave WAV, "
    "block-structured animated GIF; operators/multimodal.synth_*) and "
    "probe_media genuinely parses the container bytes back — IHDR "
    "dims, GIF block-walk frame counts, RIFF/WAVE rate/frames. The "
    "oracle re-derives the generator's parameter formulas from doc_id, "
    "so a hash match proves the encode→parse round trip bit-exactly. "
    "Both stages are narrow mapInPandas; blobs never shuffle.",
)
def m7_real_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.multimodal import (
        probe_media,
        real_blobs_from_documents,
    )

    media = real_blobs_from_documents(load_table(spark, sf_dir, "documents"))
    return probe_media(media)


def _profile_col_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS column,
       CAST(count({col}) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST(min({col}) AS VARCHAR) AS min_value,
       CAST(max({col}) AS VARCHAR) AS max_value
FROM documents"""


@register(
    "qa1_column_profile",
    oracle=" UNION ALL ".join(
        _profile_col_sql(c) for c in ("doc_id", "text", "lang", "source", "n_chars")
    ),
    doc="Corpus QA profiling (the ANALYZE/summarize() equivalent with "
    "exact semantics): per-column non-null count, exact distinct "
    "count, and min/max — ONE aggregation pass over the table "
    "producing a single wide row, exploded into one row per column "
    "driver-side-free (array-of-structs explode, no per-column "
    "rescan). The first query any training-data intake runs; at "
    "100 TB the exact distincts are the only expensive aggregates "
    "and swap for g7's HLL sketches without changing the shape.",
)
def qa1_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = ("doc_id", "text", "lang", "source", "n_chars")
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).cast("long").alias(f"{c}__n"),
            F.count_distinct(c).cast("long").alias(f"{c}__d"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = docs.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n_nonnull"),
                F.col(f"{c}__d").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


@register(
    "t16_bpe_pair_counts",
    oracle="""
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wf AS (
    SELECT w, count(*) AS freq FROM words WHERE length(w) > 0 GROUP BY w
),
pairs AS (
    SELECT substring(w, CAST(i AS INT), 2) AS pair, freq
    FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
          FROM wf WHERE length(w) >= 2)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 50
""",
    doc="BPE tokenizer-training inner loop: adjacent character-pair "
    "counts weighted by word frequency, top-50 merge candidates. The "
    "only corpus-sized pass is the word-frequency count (map-side "
    "partials); pair enumeration runs over the Zipf-bounded DISTINCT-"
    "word table (operators/text.bpe_pair_counts).",
)
def t16_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_k=50)


@register(
    "t17_cdc_chunk_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
st AS (
    SELECT doc_id, w,
           list_concat([1], list_filter(range(2, len(w) + 1),
               i -> ({duckdb_md5_long('w[i]')}) % 32 = 0)) AS starts
    FROM t
),
ch AS (
    SELECT doc_id,
           unnest([array_to_string(
                     w[starts[k]:
                       CASE WHEN k < len(starts) THEN starts[k+1] - 1
                            ELSE len(w) END], ' ')
                   for k in range(1, len(starts) + 1)]) AS chunk_text
    FROM st
)
SELECT md5(chunk_text) AS chunk_fp,
       CAST(min(doc_id) AS BIGINT) AS keep_doc,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(length(chunk_text)) AS BIGINT) AS chunk_chars
FROM ch
GROUP BY 1
""",
    doc="Content-defined chunking + chunk-level dedup "
    "(operators/text.cdc_chunk_dedup): chunk boundaries derive from "
    "word hashes (new chunk before any word with md5 % 32 == 0), so an "
    "edit shifts only its own chunk — the rsync/backup-dedup property "
    "that finds shared passages across near-identical docs, unlike "
    "fixed windows (t5) where one insertion shifts every chunk. "
    "Round 4: chunk assembly rewritten off interpreted HOF lambdas "
    "onto exploded tokens + running boundary count + hash aggregate "
    "(all codegen; the t23 lesson) — 10.6 s -> 1.4 s at 50k docs, "
    "exactly 3 exchanges (plan-gated).",
)
def t17_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.cdc_chunk_dedup(load_table(spark, sf_dir, "documents"), boundary_mod=32)


@register(
    "t18_bigram_lm_score",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
dbg AS (
    SELECT doc_id,
           unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
    FROM t WHERE len(w) >= 2
),
dbg1 AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM dbg),
bc AS (SELECT bigram, count(*) AS c12 FROM dbg GROUP BY bigram),
tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
vv AS (SELECT count(*) AS v FROM uni),
scored AS (
    SELECT d.doc_id,
           CAST(round((bc.c12 + 1) * 1000000000.0 /
                      (u.c1 + (SELECT v FROM vv))) AS BIGINT) AS term
    FROM dbg1 d JOIN bc ON d.bigram = bc.bigram JOIN uni u ON u.w = d.w1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(term) AS BIGINT) AS lik_e9,
       round(sum(term) * 1.0 / count(*), 3) AS mean_lik_e9
FROM scored
GROUP BY doc_id
""",
    doc="Bigram-LM likelihood scoring (operators/text.bigram_lm_scores) "
    "— the CCNet-style perplexity-filter shape with add-one smoothing, "
    "in integer 1e-9 units so the iterative-free conditional-"
    "probability sum is bit-reproducible across engines (t14's "
    "integer-exactness recipe extended from unigrams to conditionals). "
    "One corpus bigram-count exchange; scoring is a bigram-keyed join "
    "plus a broadcast vocab.",
)
def t18_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@register(
    "pipe4_quality_dedup_corpus",
    oracle=f"""
WITH sdocs AS (
    SELECT doc_id, text, source FROM documents
    WHERE ({duckdb_md5_long('CAST(doc_id AS VARCHAR)')}) % 100 < 50
),
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM sdocs),
dbg AS (
    SELECT doc_id,
           unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
    FROM t WHERE len(w) >= 2
),
dbg1 AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1 FROM dbg),
bc AS (SELECT bigram, count(*) AS c12 FROM dbg GROUP BY bigram),
tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM sdocs),
uni AS (SELECT w, count(*) AS c1 FROM tok GROUP BY w),
vv AS (SELECT count(*) AS v FROM uni),
scored AS (
    SELECT d.doc_id,
           CAST(round((bc.c12 + 1) * 1000000000.0 /
                      (u.c1 + (SELECT v FROM vv))) AS BIGINT) AS term
    FROM dbg1 d JOIN bc ON d.bigram = bc.bigram JOIN uni u ON u.w = d.w1
),
docscore AS (
    SELECT doc_id, round(sum(term) * 1.0 / count(*), 3) AS mean_lik
    FROM scored GROUP BY doc_id
),
med AS (SELECT quantile_cont(mean_lik, 0.5) AS m FROM docscore),
keepers AS (
    SELECT s.doc_id, s.text, s.source
    FROM sdocs s JOIN docscore q ON s.doc_id = q.doc_id
    WHERE q.mean_lik >= (SELECT m FROM med)
),
kt AS (SELECT doc_id, string_split(text, ' ') AS w FROM keepers),
st AS (
    SELECT doc_id, w,
           list_concat([1], list_filter(range(2, len(w) + 1),
               i -> ({duckdb_md5_long('w[i]')}) % 32 = 0)) AS starts
    FROM kt
),
ch AS (
    SELECT doc_id,
           unnest([array_to_string(
                     w[starts[k]:
                       CASE WHEN k < len(starts) THEN starts[k+1] - 1
                            ELSE len(w) END], ' ')
                   for k in range(1, len(starts) + 1)]) AS chunk_text
    FROM st
),
uchunks AS (
    SELECT md5(chunk_text) AS fp, min(doc_id) AS keep_doc,
           min(length(chunk_text)) AS chunk_chars
    FROM ch GROUP BY 1
),
chunk_stats AS (
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum(u.chunk_chars) AS BIGINT) AS unique_chars
    FROM uchunks u JOIN keepers k ON u.keep_doc = k.doc_id
    GROUP BY k.source
),
doc_stats AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM keepers GROUP BY source
)
SELECT d.source, d.n_docs, c.n_unique_chunks, c.unique_chars
FROM doc_stats d JOIN chunk_stats c ON d.source = c.source
""",
    doc="Composed round-3 pipeline: deterministic 50% hash sample -> "
    "bigram-LM quality filter (keep docs at or above the sampled "
    "corpus's median mean-likelihood; exact sort-based percentile, "
    "reproducible unlike a float mean) -> content-defined chunk dedup "
    "over the survivors -> per-source corpus stats. Demonstrates that "
    "t6/t18/t17 compose into one lazy plan: the only corpus passes "
    "are the LM model build and the chunk fingerprint groupBy.",
)
def pipe4_quality_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sampled = X.hash_sample(docs, rates={}, default_rate=50, key_col="doc_id")
    # scores (the full bigram-LM pass — pipe4's dominant stage) feeds
    # BOTH the median broadcast and the keep-filter probe; without the
    # persist the LM model build + scoring executes once per consumer.
    # (doc_id, score) rows — corpus-count-sized, tiny payload. Cache
    # lifecycle is the session's: callers running many pipelines in
    # one long-lived session should clearCache()/unpersist between
    # runs (the bench and driver both do).
    scores = X.bigram_lm_scores(sampled).persist()
    med = scores.agg(F.expr("percentile(mean_lik_e9, 0.5)").alias("m"))
    keep = (
        scores.crossJoin(F.broadcast(med))
        .filter(F.col("mean_lik_e9") >= F.col("m"))
        .select("doc_id")
    )
    # keepers carries text into the CDC chunker AND projects (id,
    # source) for the stats joins — pin it so the sample + keep join
    # runs once, not per consumer.
    keepers = (
        sampled.join(keep, "doc_id").select("doc_id", "text", "source").persist()
    )
    chunks = X.cdc_chunk_dedup(keepers, boundary_mod=32)
    src = keepers.select(F.col("doc_id").alias("keep_doc"), "source")
    chunk_stats = (
        chunks.join(src, "keep_doc")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_unique_chunks"),
            F.sum("chunk_chars").cast("long").alias("unique_chars"),
        )
    )
    doc_stats = keepers.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return doc_stats.join(chunk_stats, "source").select(
        "source", "n_docs", "n_unique_chunks", "unique_chars"
    )


@register(
    "t19_ngram_novelty",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 8
                THEN list_distinct([array_to_string(w[i:i+7], ' ')
                                    for i in range(1, len(w) - 6)])
                ELSE [array_to_string(w, ' ')] END AS grams
    FROM t
),
g AS (
    SELECT doc_id, {duckdb_md5_long('unnest(grams)')} AS h FROM sh
),
fs AS (SELECT h, min(doc_id) AS first FROM g GROUP BY h)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN fs.first = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_grams,
       round(sum(CASE WHEN fs.first = g.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM g JOIN fs ON g.h = fs.h
GROUP BY g.doc_id
""",
    doc="Per-doc 8-gram novelty vs the corpus in doc-id order "
    "(operators/text.ngram_novelty): share of a doc's distinct grams "
    "first seen in that doc — the incremental-crawl freshness signal; "
    "templated/re-crawled pages score near 0 without any pair "
    "enumeration. Grams md5-compress to longs before the corpus-wide "
    "exchange; two shuffles total.",
)
def t19_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.ngram_novelty(load_table(spark, sf_dir, "documents"), n=8)


def _kmeans_ctes(
    k: int = 8, iterations: int = 2, dim: int = S.EMBED_DIM, final_assign: bool = True
) -> list[str]:
    """Unrolled Lloyd-iteration CTE chain mirroring
    operators/clustering.py: same init (k lowest vec_ids, cid = rank),
    same per-iteration 9-decimal centroid rounding, same (d2, cid)
    tie-break. Ends at c{iterations}; ``final_assign`` adds the last
    assignment a{iterations} (cl1 needs it; the learned-IVF composition
    only needs the centroids)."""
    d2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])))"
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
    FROM e ORDER BY vec_id LIMIT {k}
)""",
    ]
    n_assign = iterations + 1 if final_assign else iterations
    for i in range(n_assign):
        parts.append(
            f"""a{i} AS (
    SELECT vec_id, v, cid, d2 FROM (
        SELECT e.vec_id, e.v, c.cid, {d2} AS d2 FROM e, c{i} c
    ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)"""
        )
        if i < iterations:
            parts.append(
                f"""c{i + 1} AS (
    SELECT cid, list(m ORDER BY pos) AS c
    FROM (
        SELECT cid, pos,
               round(CAST(sum(CAST(round(val * 1000000000.0) AS BIGINT)) AS DOUBLE)
                     / (count(*) * 1000000000.0), 9) AS m
        FROM (
            SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val
            FROM a{i}
        ) GROUP BY cid, pos
    ) GROUP BY cid
)"""
            )
    return parts


def _kmeans_oracle(k: int = 8, iterations: int = 2, dim: int = S.EMBED_DIM) -> str:
    sel = f"""
SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(CAST(round(d2 * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 4) AS inertia, min(vec_id) AS min_member
FROM a{iterations} GROUP BY cid
"""
    return ",\n".join(_kmeans_ctes(k, iterations, dim)) + sel


@register(
    "cl1_kmeans_profile",
    oracle=_kmeans_oracle(),
    doc="Distributed k-means (2 Lloyd rounds, k=8) over the embedding "
    "corpus (operators/clustering.py): assignment is a zero-exchange "
    "narrow pass over a broadcast centroid array (no driver round-trip, "
    "unlike MLlib); the centroid update's shuffle is k x dim cells "
    "thanks to map-side partial aggregation. Deterministic lowest-id "
    "init + 9-decimal centroid rounding make the unrolled DuckDB CTE "
    "oracle converge identically.",
)
def cl1_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.clustering import kmeans_profile

    return kmeans_profile(load_table(spark, sf_dir, "embeddings"), k=8, iterations=2)


@register(
    "t20_inverted_index",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tp AS (
    SELECT doc_id, unnest(
        CASE WHEN len(w) >= 3
             THEN list_distinct([array_to_string(w[i:i+2], ' ')
                                  for i in range(1, len(w) - 1)])
             ELSE [array_to_string(w, ' ')] END) AS term
    FROM t
),
counts AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df_count FROM tp GROUP BY term
),
small AS (SELECT * FROM counts WHERE df_count BETWEEN 2 AND 100)
SELECT s.term, s.df_count,
       array_to_string(list(tp.doc_id ORDER BY tp.doc_id), ',') AS postings
FROM small s JOIN tp ON tp.term = s.term
GROUP BY s.term, s.df_count
""",
    doc="Inverted index over 3-word shingles (operators/text."
    "inverted_index): shingle -> df + sorted posting list — the "
    "candidate-lookup index behind incremental near-dup checks. Lists "
    "materialize only for df in [2,100] so a boilerplate shingle's "
    "corpus-wide postings never becomes an unbounded hot row; high-df "
    "shingles keep their count. Narrow shingle derivation, map-side-"
    "combined counts.",
)
def t20_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.inverted_index(load_table(spark, sf_dir, "documents"))


@register(
    "t21_pmi_collocations",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
    SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bigram
    FROM toks WHERE len(w) >= 2
),
bi AS (
    SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
    FROM grams GROUP BY bigram HAVING count(*) >= 5
),
uc AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
    FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM grams)
SELECT bigram, n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
       round(ln((n_ab * n_total) * 1.0 / (a.n_tok * b.n_tok)), 6) AS pmi
FROM bi, tot, uc a, uc b
WHERE a.tok = string_split(bigram, ' ')[1]
  AND b.tok = string_split(bigram, ' ')[2]
ORDER BY (n_ab * n_total) * 1.0 / (a.n_tok * b.n_tok) DESC, bigram
LIMIT 50
""",
    doc="PMI collocations (operators/text.pmi_bigrams): phrase-mining /"
    " tokenizer-merge candidates. Ranked by the exact integer-product "
    "ratio (single IEEE division, engine-identical bits) so ln() ulps "
    "can never flip an order; ln is display-only.",
)
def t21_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.pmi_bigrams(load_table(spark, sf_dir, "documents"))


@register(
    "t22_stratified_exact_sample",
    oracle="""
WITH s AS (
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS sample_rank,
           CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_stratum
    FROM documents
)
SELECT doc_id, lang, sample_rank, n_stratum
FROM s WHERE sample_rank <= ceil(0.1 * n_stratum)
""",
    doc="Exact-quota stratified sampling (operators/text."
    "stratified_exact_sample): exactly ceil(10% of each language) "
    "survives, chosen by deterministic md5 order — hash_sample's "
    "Bernoulli gate (t6) hits rates only in expectation. One shuffle "
    "on the stratum key; rank and size share the sort.",
)
def t22_stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.stratified_exact_sample(load_table(spark, sf_dir, "documents"))


def _ivf_learned_oracle(k_cells: int = 8, iterations: int = 2, n_probe: int = 4) -> str:
    """v3's IVF search body over v8's LEARNED centroids: the kmeans CTE
    chain replaces the lowest-id cents CTE; everything downstream is
    the v3 oracle with cents = c{iterations}."""
    cos = _duck_cosine
    chain = ",\n".join(_kmeans_ctes(k_cells, iterations, final_assign=False))
    return f"""{chain},
cents AS (SELECT CAST(cid AS BIGINT) AS cid, c AS centroid FROM c{iterations}),
cscore AS (
    SELECT e.vec_id AS neighbor_id, e.v AS cv, c.cid,
           round({cos("e.v", "c.centroid")}, 6) AS cos_c
    FROM e CROSS JOIN cents c
),
assigned AS (
    SELECT neighbor_id, cv, cid AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY cos_c DESC, cid) AS arn FROM cscore)
    WHERE arn = 1
),
qscore AS (
    SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
           round({cos("e.v", "c.centroid")}, 6) AS cos_c
    FROM e CROSS JOIN cents c
    WHERE e.vec_id IN {_QUERY_IDS}
),
probes AS (
    SELECT query_id, qv, cid AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos_c DESC, cid) AS prn FROM qscore)
    WHERE prn <= {n_probe}
),
scored AS (
    SELECT DISTINCT p.query_id, a.neighbor_id,
           round({cos("p.qv", "a.cv")}, 6) AS cos_sim
    FROM assigned a JOIN probes p ON a.cell = p.cell
    WHERE a.neighbor_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM scored)
WHERE rn <= 10
"""


@register(
    "v8_ivf_learned_topk",
    oracle=_ivf_learned_oracle(),
    doc="IVF ANN top-10 over a LEARNED coarse quantizer: the k-means "
    "centroids (cl1's trainer, operators/clustering.py) replace v3's "
    "assignment-only lowest-id cells in the identical search dataflow "
    "— train and search compose into ONE lazy plan (no driver "
    "round-trip between them). Better-balanced cells than v3 at the "
    "same probe budget; oracle = kmeans CTE chain + v3's search body.",
)
def v8_ivf_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.clustering import kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    cents = kmeans_centroids(emb, k=8, iterations=2)
    return S.ivf_topk(emb, queries, k=10, n_probe=4, centroids=cents)


def _incremental_dedup_oracle() -> str:
    """Mirror of operators/dedup.incremental_dedup over the fixture
    split (new batch = doc_id % 5 == 4): same signature recipe as
    _minhash_oracle, cross-relation banding, existing-beats-batch
    partner priority."""
    perms = D.NUM_PERMS
    rpb = perms // D.NUM_BANDS
    band_key = " || ':' || ".join(
        f"CAST(mh[b * {rpb} + {r + 1}] AS VARCHAR)" for r in range(rpb)
    )
    k_list = ", ".join(str(D.perm_constant(p)) for p in range(perms))
    jac = "len(list_intersect(sa, sb)) * 1.0 / (len(sa) + len(sb) - len(list_intersect(sa, sb)))"
    return f"""
WITH {_SHINGLES_CTE},
hashed AS (
    SELECT doc_id, shingles,
           list_transform(shingles, s -> {duckdb_md5_long("s")}) AS hs
    FROM sh
),
sig AS (
    SELECT doc_id, doc_id % 5 = 4 AS is_new, shingles,
           list_transform([{k_list}], k ->
               list_min(list_transform(hs, h -> xor(h, k)))) AS mh
    FROM hashed
),
banded AS (
    SELECT doc_id, is_new, shingles,
           unnest(range({D.NUM_BANDS})) AS band_id,
           unnest(list_transform(range({D.NUM_BANDS}), b -> {band_key})) AS band_key
    FROM sig
),
cand AS (
    SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS partner, 0 AS ptype,
           b.shingles AS sa, a.shingles AS sb
    FROM banded b JOIN banded a
      ON b.band_id = a.band_id AND b.band_key = a.band_key
     AND b.is_new AND NOT a.is_new
    UNION
    SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS partner, 1 AS ptype,
           b.shingles AS sa, a.shingles AS sb
    FROM banded b JOIN banded a
      ON b.band_id = a.band_id AND b.band_key = a.band_key
     AND b.is_new AND a.is_new AND a.doc_id < b.doc_id
),
ver AS (
    SELECT new_id, partner, ptype, round({jac}, 6) AS jaccard
    FROM cand WHERE {jac} >= 0.5
),
best AS (
    SELECT new_id, partner, ptype, jaccard
    FROM ver
    QUALIFY row_number() OVER (PARTITION BY new_id ORDER BY ptype, partner) = 1
)
SELECT d.doc_id,
       CASE WHEN b.ptype = 0 THEN 'dup_of_existing'
            WHEN b.ptype = 1 THEN 'dup_within_batch'
            ELSE 'novel' END AS status,
       b.partner AS partner, b.jaccard AS jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
LEFT JOIN best b ON b.new_id = d.doc_id
"""


@register(
    "d9_incremental_dedup",
    oracle=_incremental_dedup_oracle(),
    doc="Incremental dedup of a new batch (doc_id % 5 = 4, 'today's "
    "crawl') against the existing corpus (operators/dedup."
    "incremental_dedup): each new doc classified dup_of_existing / "
    "dup_within_batch / novel with its verified partner and Jaccard. "
    "The cross-relation band join is batch-sized on the probe side — "
    "per-day cost O(batch + matched buckets), not O(corpus); in "
    "production the corpus side's signatures are precomputed.",
)
def d9_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 4)
    existing = docs.filter(F.col("doc_id") % 5 != 4)
    return D.incremental_dedup(existing, new)


@register(
    "t23_dup_substring_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
wins AS (
    SELECT doc_id, i AS pos,
           {duckdb_md5_long("array_to_string(w[i:i+7], ' ')")} AS wh
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
          FROM t WHERE len(w) >= 8)
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) > 1),
fl AS (
    SELECT doc_id, pos, pos + 7 AS e,
           max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM wins WHERE wh IN (SELECT wh FROM dup)
),
agg AS (
    SELECT doc_id, count(*) AS ndw,
           sum(greatest(e - greatest(coalesce(prev_end, 0), pos - 1), 0)) AS dt
    FROM fl GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(greatest(len(w) - 7, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(ndw, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(dt, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(dt, 0) * 1.0 / greatest(len(w), 1), 6) AS dup_ratio
FROM t LEFT JOIN agg USING (doc_id)
""",
    doc="Repeated-substring spans (ExactSubstr signal, Lee et al. "
    "2021): every 8-token window rolling-hashed, corpus-repeated "
    "windows merged into maximal per-doc spans; reports tokens covered "
    "by some duplicated k-gram (operators/text."
    "duplicated_window_spans). The only corpus-sized shuffle carries "
    "(doc_id, pos, hash64) — the inherent token-scale cost of "
    "substring-level dedup.",
)
def t23_dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.duplicated_window_spans(load_table(spark, sf_dir, "documents"), k=8)


@register(
    "t24_deterministic_shuffle",
    oracle=f"""
WITH k AS (
    SELECT doc_id,
           md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS sort_key,
           {duckdb_md5_long("CAST(doc_id AS VARCHAR)", salt="shuffle:")} % 16 AS shard
    FROM documents
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id)
            AS BIGINT) AS pos_in_shard
FROM k
""",
    doc="Deterministic global corpus shuffle for training-epoch "
    "ordering: md5 sort key -> shard (60-bit key mod 16) + per-shard "
    "position (operators/text.deterministic_shuffle). NO global sort: "
    "one hash shuffle on the shard key, then per-shard row_numbers; "
    "shard count scales with the cluster so each within-shard sort "
    "stays executor-sized.",
)
def t24_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.deterministic_shuffle(load_table(spark, sf_dir, "documents"), n_shards=16)


def _bpe_rounds_sql(num_merges: int) -> str:
    """Unrolled-SQL BPE training rounds (the pagerank-oracle trick
    applied to the tokenizer loop): the vocabulary is kept EXPLODED as
    (word, freq, pos, sym) rows; each round counts adjacent pairs with
    a lead() window, picks the argmax with the same (count DESC, l, r)
    tie-break as the Spark TakeOrdered, and applies the greedy
    leftmost-nonoverlapping merge with gaps-and-islands: merges can
    only chain when left == right (otherwise adjacent matches are
    impossible), and greedy scanning then takes exactly the
    even-offset matches within each run of consecutive match
    positions — so no sequential fold is needed, just windows."""
    parts = [
        """
w0 AS (
    SELECT w, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE length(w) > 0 GROUP BY w
),
v0 AS MATERIALIZED (
    SELECT w, freq, CAST(i AS BIGINT) AS pos, s[i] AS sym
    FROM (SELECT w, freq, string_split(w, '') AS s,
                 unnest(range(1, len(string_split(w, '')) + 1)) AS i
          FROM w0)
)"""
    ]
    for r in range(1, num_merges + 1):
        parts.append(
            f"""
p{r} AS MATERIALIZED (
    SELECT w, freq, pos, sym,
           lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
    FROM v{r - 1}
),
t{r} AS MATERIALIZED (
    SELECT l, r, cnt, l || r AS m FROM (
        SELECT sym AS l, nxt AS r, CAST(sum(freq) AS BIGINT) AS cnt
        FROM p{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
    ) ORDER BY cnt DESC, l, r LIMIT 1
),
tk{r} AS (
    SELECT w, freq, pos, sym,
           coalesce(mt AND ((pos - min(pos) OVER (PARTITION BY w, grp)) % 2 = 0),
                    false) AS taken
    FROM (
        SELECT w, freq, pos, sym, mt,
               CASE WHEN mt THEN pos - row_number()
                    OVER (PARTITION BY w, mt ORDER BY pos) END AS grp
        FROM (
            -- LEFT join on true, not CROSS: if merge candidates are
            -- exhausted before round {r} (t{r} empty), a cross join
            -- would empty the vocabulary; left keeps it unchanged,
            -- matching the Spark side's left broadcast join.
            SELECT p.w, p.freq, p.pos, p.sym,
                   coalesce(p.sym = t.l AND p.nxt = t.r, false) AS mt
            FROM p{r} p LEFT JOIN t{r} t ON true
        )
    )
),
v{r} AS MATERIALIZED (
    SELECT w, freq,
           CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos,
           CASE WHEN taken THEN (SELECT m FROM t{r}) ELSE sym END AS sym
    FROM (
        SELECT w, freq, pos, sym, taken,
               coalesce(lag(taken) OVER (PARTITION BY w ORDER BY pos),
                        false) AS prev_taken
        FROM tk{r}
    )
    WHERE NOT prev_taken
)"""
        )
    return "WITH " + ",".join(parts)


def _bpe_merges_oracle(num_merges: int = 8) -> str:
    winners = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS BIGINT) AS merge_rank, l AS "left", r AS "right", '
        f"m AS merged, cnt AS pair_count FROM t{r}"
        for r in range(1, num_merges + 1)
    )
    return f"{_bpe_rounds_sql(num_merges)}\n{winners}"


def _bpe_stats_oracle(num_merges: int = 8) -> str:
    return f"""{_bpe_rounds_sql(num_merges)},
pw AS (
    SELECT w, freq, CAST(count(*) AS BIGINT) AS n_syms,
           CAST(sum(length(sym)) AS BIGINT) AS n_chars
    FROM v{num_merges} GROUP BY w, freq
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(freq) AS BIGINT) AS total_words,
           CAST(sum(freq * n_chars) AS BIGINT) AS char_tokens,
           CAST(sum(freq * n_syms) AS BIGINT) AS bpe_tokens
    FROM pw
),
sy AS (SELECT CAST(count(DISTINCT sym) AS BIGINT) AS n_symbols FROM v{num_merges})
SELECT CAST({num_merges} AS BIGINT) AS n_merges, n_distinct_words, total_words,
       char_tokens, bpe_tokens, n_symbols,
       round(char_tokens * 1.0 / bpe_tokens, 6) AS compression_ratio
FROM tot, sy
"""


@register(
    "t25_bpe_train_merges",
    oracle=_bpe_merges_oracle(8),
    doc="Distributed BPE tokenizer training, full iterative merge loop "
    "(operators/text.bpe_train): one corpus pass for word frequencies, "
    "then 8 merge rounds over the Zipf-bounded distinct-word "
    "vocabulary — pair counts with map-side partials, TakeOrdered "
    "argmax, higher-order-fold merge application, zero driver "
    "collects (the winning rule is broadcast-joined as columns). "
    "Round 5 closed the rows-only gap: the oracle unrolls all 8 "
    "training rounds in SQL (gaps-and-islands greedy merge — no "
    "sequential fold needed); pytest additionally pins the merge "
    "table against a pure-Python reference trainer.",
)
def t25_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bpe_train(load_table(spark, sf_dir, "documents"), num_merges=8)


@register(
    "pipe5_curriculum_order",
    oracle=f"""
WITH f AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
           len(list_filter(string_split(text, ' '),
               t -> list_contains(['a','the','of','and','to','in','is','it'], t))) AS n_stop
    FROM documents
),
q AS (
    SELECT doc_id,
           least(CAST(floor(round(
               least(n_words / 100.0, 1.0) * 0.4
               + (1.0 - least(n_punct * 1.0 / greatest(n_chars, 1) * 4, 1.0)) * 0.3
               + least(n_stop * 1.0 / greatest(n_words, 1) * 5, 1.0) * 0.3, 6) * 4)
               AS BIGINT), 3) AS quality_bin,
           md5('curr:' || CAST(doc_id AS VARCHAR)) AS sort_key,
           {duckdb_md5_long("CAST(doc_id AS VARCHAR)", salt="curr:")} % 8 AS shard
    FROM f
),
pos AS (
    SELECT doc_id, quality_bin, shard,
           CAST(row_number() OVER (PARTITION BY quality_bin, shard
                                   ORDER BY sort_key, doc_id) AS BIGINT) AS pos_in_shard
    FROM q
),
off AS (
    SELECT quality_bin, shard,
           CAST(coalesce(sum(n) OVER (ORDER BY quality_bin DESC, shard
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS bin_offset
    FROM (SELECT quality_bin, shard, count(*) AS n FROM q GROUP BY 1, 2)
)
SELECT p.doc_id, p.quality_bin, CAST(p.shard AS BIGINT) AS shard, p.pos_in_shard,
       o.bin_offset + p.pos_in_shard AS curriculum_rank
FROM pos p JOIN off o ON p.quality_bin = o.quality_bin AND p.shard = o.shard
""",
    doc="Curriculum epoch ordering (operators/text.curriculum_order): "
    "quality-quartile bins (t2 score) walked cleanest-first, "
    "deterministic md5 shuffle within each bin, one global "
    "curriculum_rank built WITHOUT a global sort — per-(bin, shard) "
    "row_numbers plus a broadcast prefix-sum over the 4*8-row size "
    "relation.",
)
def pipe5_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.curriculum_order(load_table(spark, sf_dir, "documents"), n_shards=8)


def _rp_plane_sql(j: int, dim: int = 64) -> str:
    from kafka_flink_spark.operators.similarity import rp_component

    return "[" + ", ".join(repr(rp_component(j, i)) for i in range(dim)) + "]"


@register(
    "v9_random_projection",
    oracle="SELECT vec_id, "
    + ", ".join(
        f"round(list_dot_product(CAST(embedding AS DOUBLE[]), {_rp_plane_sql(j)}), 6)"
        f" AS rp{j}"
        for j in range(8)
    )
    + " FROM embeddings",
    doc="Johnson-Lindenstrauss random projection 64 -> 8 "
    "(operators/similarity.random_projection): deterministic literal "
    "planes (md5 recipe, oracle-reproducible), sequential-order dot "
    "folds — a pure narrow pass, zero shuffle; the cheap dim-reduction "
    "front of clustering/ANN.",
)
def v9_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.random_projection(load_table(spark, sf_dir, "embeddings"), out_dim=8)


@register(
    "pipe6_temperature_mix",
    oracle=f"""
WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
rates AS (
    SELECT source, n_docs,
           least(CAST(1000000 AS BIGINT), CAST(floor(
               1e6 * (0.5 * (SELECT sum(n_docs) FROM counts)
                      * pow(n_docs, 0.5)
                      / (SELECT sum(pow(n_docs, 0.5)) FROM counts))
               / n_docs) AS BIGINT)) AS rate_ppm
    FROM counts
),
g AS (
    SELECT d.source, r.n_docs, r.rate_ppm,
           CASE WHEN {duckdb_md5_long("CAST(d.doc_id AS VARCHAR)", salt="tmix:")}
                          % 1000000 < r.rate_ppm
                THEN 1 ELSE 0 END AS _in
    FROM documents d JOIN rates r ON d.source = r.source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, rate_ppm,
       CAST(sum(_in) AS BIGINT) AS n_sampled
FROM g GROUP BY source, n_docs, rate_ppm
""",
    doc="Temperature-based mixture sampling (operators/text."
    "temperature_mix): per-source rates computed FROM corpus stats — "
    "p_s ∝ n_s^0.5, the small-source-upweighting rebalance — applied "
    "via the deterministic md5 gate; returns the per-source audit "
    "table. One corpus pass for counts, broadcast rate join, no other "
    "corpus shuffle.",
)
def pipe6_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.temperature_mix(load_table(spark, sf_dir, "documents"))


@register(
    "t26_bpe_encode_stats",
    oracle=_bpe_stats_oracle(8),
    doc="BPE tokenizer ENCODE statistics (operators/text."
    "bpe_encode_stats): the 8 trained merges applied to the corpus — "
    "char-level vs BPE token counts, symbol inventory, compression "
    "ratio. Encoding runs over the Zipf-bounded distinct-word "
    "vocabulary, each word once weighted by frequency; the corpus is "
    "scanned exactly once (word counts). Oracle: the same unrolled-"
    "SQL training rounds as t25, reduced to the encode statistics.",
)
def t26_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bpe_encode_stats(load_table(spark, sf_dir, "documents"), num_merges=8)


@register(
    "t27_substring_dedup_rewrite",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
toks AS (
    SELECT doc_id, i AS pos, w[i] AS tok
    FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM t)
),
wins AS (
    SELECT doc_id, i AS pos,
           {duckdb_md5_long("array_to_string(w[i:i+7], ' ')")} AS wh
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
          FROM t WHERE len(w) >= 8)
),
occ AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
           count(*) OVER (PARTITION BY wh) AS n_occ
    FROM wins
),
rem AS (SELECT doc_id, pos, pos + 7 AS e FROM occ WHERE n_occ > 1 AND rn > 1),
merged AS (
    SELECT doc_id, pos, 0 AS typ, e, NULL AS tok FROM rem
    UNION ALL
    SELECT doc_id, pos, 1 AS typ, NULL AS e, tok FROM toks
),
cov AS (
    SELECT doc_id, pos, typ, tok,
           max(e) OVER (PARTITION BY doc_id ORDER BY pos, typ
                        ROWS UNBOUNDED PRECEDING) AS maxe
    FROM merged
),
kt AS (
    SELECT doc_id, pos, tok, (coalesce(maxe, 0) < pos) AS kept
    FROM cov WHERE typ = 1
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(list(tok ORDER BY pos) FILTER (WHERE kept), ' '), '')) AS clean_md5
FROM kt GROUP BY doc_id
""",
    doc="ExactSubstr dedup APPLY (operators/text."
    "remove_duplicate_spans): every corpus-duplicated 8-token window "
    "keeps only its first occurrence (min (doc_id, pos)); other "
    "occurrences' tokens are removed. Per-doc removal stats + md5 of "
    "the cleaned text. Keeper selection is one shuffle on the window "
    "hash; coverage is a sorted-merge running max per doc.",
)
def t27_substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.remove_duplicate_spans(load_table(spark, sf_dir, "documents"), k=8)


# --- round-4 additions: URL dedup, quality rules, winnowing, ANN eval --------

_URL_SYNTH_SQL = """
urls AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END)
           || '://'
           || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
           || 'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
           || '/p/' || CAST(doc_id % 40 AS VARCHAR)
           || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
           || (CASE doc_id % 4
                 WHEN 0 THEN '?utm_source=mail&id=' || CAST(doc_id % 20 AS VARCHAR)
                 WHEN 1 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_campaign=x'
                 WHEN 2 THEN '?id=' || CAST(doc_id % 20 AS VARCHAR)
                 ELSE '' END)
           || (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url
    FROM documents
)
"""


def _url_synth_col() -> "F.Column":
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 3 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 7).cast("string"), F.lit(".Example.COM"),
        F.lit("/p/"), (d % 40).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=mail&id="), (d % 20).cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("?id="), (d % 20).cast("string"), F.lit("&utm_campaign=x")))
        .when(d % 4 == 2, F.concat(F.lit("?id="), (d % 20).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )


def _t28_oracle() -> str:
    from kafka_flink_spark.operators.urls import duckdb_canonical_url

    return f"""
WITH {_URL_SYNTH_SQL.strip().rstrip()},
canon AS (SELECT doc_id, {duckdb_canonical_url('url')} AS canon_url FROM urls)
SELECT canon_url,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_variants
FROM canon GROUP BY canon_url
"""


@register(
    "t28_url_dedup",
    oracle=_t28_oracle(),
    doc="URL canonicalization + URL-level dedup (operators/urls.py) - "
    "the first dedup pass of every web-corpus pipeline: per-doc URLs "
    "(synthesized deterministically with scheme-case / www / trailing "
    "-slash / tracking-param / fragment / param-order noise) are "
    "canonicalized by pure codegen regexp+array rewrites and "
    "collapsed to one representative per canonical form. One "
    "exchange, keyed on the canonical string; the rewrite itself is "
    "a map stage fused into the scan.",
)
def t28_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.urls import url_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _url_synth_col().alias("url")
    )
    return url_dedup(docs)


_GOPHER_STOPS = "'a','the','of','and','to','in','is','it'"


@register(
    "t29_gopher_quality_rules",
    oracle=f"""
WITH f AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_words,
           round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
                 / len(string_split(text, ' ')), 6) AS mean_word_len,
           len(list_filter(string_split(text, ' '),
               t -> list_contains([{_GOPHER_STOPS}], t))) AS stop_hits,
           round((len(string_split(text, ' '))
                  - len(list_filter(string_split(text, ' '),
                        t -> regexp_matches(t, '[^A-Za-z]')))) * 1.0
                 / greatest(len(string_split(text, ' ')), 1), 6) AS alpha_ratio
    FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       mean_word_len,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       alpha_ratio,
       (n_words >= 40 AND n_words <= 100000) AS pass_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_word_len,
       (stop_hits >= 2) AS pass_stopwords,
       (alpha_ratio >= 0.8) AS pass_alpha,
       ((n_words >= 40 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (stop_hits >= 2) AND (alpha_ratio >= 0.8)) AS keep
FROM f
""",
    doc="Gopher-style quality rule battery (operators/text."
    "gopher_quality_rules; Rae et al. 2021 rule family): word-count "
    "bounds, mean-word-length bounds, stop-word evidence floor, "
    "alphabetic-word-ratio floor, and the composite keep flag - four "
    "narrow per-row signals over one token split, a pure map stage "
    "fused into the scan at any corpus size.",
)
def t29_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.gopher_quality_rules(load_table(spark, sf_dir, "documents"))


@register(
    "t30_winnowing_fingerprints",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
    SELECT doc_id, i AS pos,
           {duckdb_md5_long("w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]")} AS wh
    FROM t, unnest(range(1, len(w) - 2)) AS u(i)
),
wsel AS (
    SELECT doc_id,
           min({{'h': wh, 'np': -pos}}) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS i
    FROM g
),
selected AS (
    SELECT DISTINCT doc_id, -sel.np AS pos, sel.h AS fp FROM wsel WHERE i >= 5
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
       CAST(min(fp) AS BIGINT) AS min_fp
FROM selected GROUP BY doc_id
""",
    doc="Winnowing document fingerprints (operators/text."
    "winnowing_fingerprints; Schleimer/Wilkerson/Aiken SIGMOD 2003, "
    "the MOSS algorithm): word-4-gram hashes, rightmost-minimal "
    "selection per 5-hash window via ONE min(struct(hash,-pos)) "
    "window aggregate - guaranteed shared fingerprint for any shared "
    "substring of >= 8 words at ~1/3 the storage. All windows share "
    "a single per-doc sort; one token-volume exchange total.",
)
def t30_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.winnowing_fingerprints(load_table(spark, sf_dir, "documents"), k=4, w=5)


def _v10_oracle() -> str:
    plane_hash = duckdb_md5_long("p || ':' || i", salt="plane:")
    plane = (
        f"list_transform(range({S.EMBED_DIM}), i -> "
        f"({plane_hash} % 2000000) / 1000000.0 - 1.0)"
    )
    bucket = (
        f"list_sum(list_transform(range({_ANN_PLANES}), p -> "
        f"CASE WHEN list_dot_product(v, {plane}) > 0 "
        f"THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id IN {_QUERY_IDS}),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round({_duck_cosine("q.qv", "e.v")}, 6) DESC, e.vec_id) AS rn
        FROM e, q WHERE e.vec_id <> q.query_id)
    WHERE rn <= 10
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round({_duck_cosine("q.qv", "c.v")}, 6) DESC, c.vec_id) AS rn
        FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
    WHERE rn <= 10
),
hits AS (
    SELECT a.query_id, count(*) AS n_hits
    FROM approx a JOIN exact x
      ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
    GROUP BY a.query_id
)
SELECT x.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(coalesce(any_value(h.n_hits), 0) AS BIGINT) AS n_hits,
       round(coalesce(any_value(h.n_hits), 0) * 1.0 / greatest(count(*), 1), 6) AS recall
FROM exact x LEFT JOIN hits h ON x.query_id = h.query_id
GROUP BY x.query_id
"""


@register(
    "v10_ann_recall_eval",
    oracle=_v10_oracle(),
    doc="Recall@10 evaluation of the LSH ANN index against exact "
    "brute-force ground truth (operators/similarity.ann_recall) - "
    "the measurement every ANN deployment runs before trusting an "
    "index. Exact side is the v1 broadcast-query corpus pass; ANN "
    "side probes one bucket per query; the comparison relations are "
    "queries x k rows, so everything downstream is tiny but still "
    "distributed.",
)
def v10_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.ann_recall(emb, queries, k=10, num_planes=_ANN_PLANES)


_BM25_TERMS = "('table', 'spark', 'window', 'stream')"


@register(
    "t31_bm25_scores",
    oracle=f"""
WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_w FROM dl),
tr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tr WHERE term IN {_BM25_TERMS} GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
parts AS (
    SELECT t.doc_id, t.term, t.tf, CAST(d.dl AS BIGINT) AS dl, f.df,
           round(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0), 6) AS idf,
           round((22 * s.total_w * t.tf) * 1.0
                 / (10 * s.total_w * t.tf + 3 * s.total_w + 9 * d.dl * s.n_docs),
                 6) AS tf_part
    FROM tf t JOIN dft f ON t.term = f.term
              JOIN dl d ON t.doc_id = d.doc_id, stats s
)
SELECT doc_id, term, tf, dl, df, idf, tf_part,
       round(idf * tf_part, 6) AS bm25
FROM parts
""",
    doc="Okapi BM25 relevance scoring (operators/text.bm25_scores; "
    "k1=1.2, b=0.75, Lucene idf) for a literal query-term set, one "
    "row per matching (doc, term). The tf saturation term is ONE "
    "division of exactly-representable integers (the t21 "
    "exactness recipe: k1/b baked into integer scaling constants), "
    "idf's ln rounded to 6; per-term rows avoid an order-dependent "
    "cross-term double sum. Corpus stats broadcast; only doc lengths' "
    "map-side-combined count touches corpus volume.",
)
def t31_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bm25_scores(load_table(spark, sf_dir, "documents"))


def _v11_oracle() -> str:
    d2 = (
        "CAST(round(list_dot_product("
        "list_transform(range(8), i -> {a}[i+1] - {b}[i+1]), "
        "list_transform(range(8), i -> {a}[i+1] - {b}[i+1])) * 1e9) AS BIGINT)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT vec_id AS code_id, v AS cwv FROM e ORDER BY vec_id LIMIT 16),
cbs AS (SELECT code_id, s, cwv[s*8+1 : s*8+8] AS cw
        FROM cb, unnest(range(8)) u(s)),
cs AS (SELECT vec_id AS neighbor_id, s, v[s*8+1 : s*8+8] AS vs
       FROM e, unnest(range(8)) u(s)),
enc AS (
    SELECT neighbor_id, s,
           (min({{'d': {d2.format(a="vs", b="cw")}, 'c': code_id}})).c AS code_id
    FROM cs JOIN cbs USING (s)
    GROUP BY neighbor_id, s
),
q AS (SELECT vec_id AS query_id, s, v[s*8+1 : s*8+8] AS qs
      FROM e, unnest(range(8)) u(s) WHERE vec_id IN {_QUERY_IDS}),
qt AS (
    SELECT query_id, s, code_id, {d2.format(a="qs", b="cw")} AS dq
    FROM q JOIN cbs USING (s)
),
adc AS (
    SELECT query_id, neighbor_id, CAST(sum(dq) AS BIGINT) AS adc_d2
    FROM enc JOIN qt USING (s, code_id)
    WHERE neighbor_id <> query_id
    GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc_d2, neighbor_id) AS rn FROM adc)
WHERE rn <= 10
"""


@register(
    "v11_pq_adc_topk",
    oracle=_v11_oracle(),
    doc="Product-quantization ANN top-10 with asymmetric distance "
    "computation (operators/similarity.pq_adc_topk; Jegou et al. "
    "2011, the FAISS PQ index): 64-dim vectors encoded as 8 one-byte "
    "codewords (8x compression is literally the exchange payload); "
    "queries sum per-subspace distances to codewords, never touching "
    "original vectors. Sub-distances integer-scaled BEFORE the "
    "cross-subspace sum, so the ADC total is an order-independent "
    "LONG sum; deterministic lowest-id codebook makes the oracle "
    "reproduce the index bit-for-bit.",
)
def v11_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.pq_adc_topk(emb, queries, k=10)


def _pipe7_oracle() -> str:
    from kafka_flink_spark.operators.urls import duckdb_canonical_url

    return f"""
WITH {_URL_SYNTH_SQL.strip()},
canon AS (SELECT doc_id, {duckdb_canonical_url('url')} AS canon_url FROM urls),
url_kept AS (
    SELECT min(doc_id) AS doc_id FROM canon GROUP BY canon_url
),
g AS (
    SELECT d.doc_id, d.source,
           len(string_split(d.text, ' ')) AS n_words,
           round((length(d.text) - (len(string_split(d.text, ' ')) - 1)) * 1.0
                 / len(string_split(d.text, ' ')), 6) AS mean_word_len,
           len(list_filter(string_split(d.text, ' '),
               t -> list_contains([{_GOPHER_STOPS}], t))) AS stop_hits,
           round((len(string_split(d.text, ' '))
                  - len(list_filter(string_split(d.text, ' '),
                        t -> regexp_matches(t, '[^A-Za-z]')))) * 1.0
                 / greatest(len(string_split(d.text, ' ')), 1), 6) AS alpha_ratio,
           md5(lower(trim(d.text))) AS fp
    FROM documents d JOIN url_kept u ON d.doc_id = u.doc_id
),
quality AS (
    SELECT * FROM g
    WHERE n_words >= 40 AND n_words <= 100000
      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      AND stop_hits >= 2 AND alpha_ratio >= 0.8
),
content AS (
    SELECT min(doc_id) AS doc_id, any_value(source) AS _x FROM quality GROUP BY fp
)
SELECT q.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(q.n_words) AS BIGINT) AS total_words
FROM quality q JOIN content c ON q.doc_id = c.doc_id
GROUP BY q.source
"""


@register(
    "pipe7_web_corpus_pipeline",
    oracle=_pipe7_oracle(),
    doc="Composed web-corpus ingest pipeline from the round-4 "
    "primitives: URL-level dedup first (cheapest signal - no content "
    "touched for URL variants), then the Gopher quality rule battery "
    "over survivors, then exact content dedup (min doc per normalized "
    "md5), then per-source corpus stats. The ordering is the "
    "production ordering: each stage shrinks the corpus before the "
    "next pays its cost; stages reuse t28/t29/d1 machinery verbatim.",
)
def pipe7_web_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.urls import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select("doc_id", _url_synth_col().alias("url"))
    url_kept = url_dedup(with_url).select(F.col("keep_id").alias("doc_id"))
    # survivors feeds the Gopher pass AND the enrich join; quality
    # feeds the content-dedup aggregate AND the final join — pin both
    # so the url_dedup groupBy and the rule battery execute once per
    # pipeline run, not once per consumer (round-5 multi-consumer
    # lesson; both relations are doc-sized).
    survivors = docs.join(url_kept, "doc_id").persist()
    quality = (
        X.gopher_quality_rules(survivors)
        .filter("keep")
        .join(survivors.select("doc_id", "source", "text"), "doc_id")
        .persist()
    )
    content_kept = (
        quality.select(
            "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        quality.join(content_kept, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
    )


@register(
    "t32_model_quality_filter",
    oracle=f"""
WITH s AS (
    SELECT doc_id,
           ({duckdb_md5_long("CAST(doc_id AS VARCHAR)", salt="mq:")}) % 2000001 - 1000000
           + least(length(text), 1000) * 500 AS mq_logit_u
    FROM documents
)
SELECT doc_id, CAST(mq_logit_u AS BIGINT) AS mq_logit_u,
       CAST(least(greatest((mq_logit_u + 1000000) // 500000, 0), 5) AS BIGINT)
           AS edu_score,
       (least(greatest((mq_logit_u + 1000000) // 500000, 0), 5) >= 3) AS keep
FROM s
""",
    doc="Model-based quality filtering plumbing (operators/text."
    "model_quality_scores) - the FineWeb-Edu classifier-filter shape: "
    "Arrow-batched mapInPandas scoring with per-partition model init "
    "via the iterator protocol, 0-5 educational buckets, keep gate. "
    "The scorer is a deterministic md5+length stub (like the "
    "multimodal m1 decode stub) so the full path is oracle-checked; "
    "swapping in ONNX/torch batch inference changes NOTHING on the "
    "Spark side - narrow plan, no exchange, batch size governed by "
    "arrow.maxRecordsPerBatch.",
)
def t32_model_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.model_quality_scores(load_table(spark, sf_dir, "documents"))


def _ivfpq_body() -> str:
    d2_64 = (
        "CAST(round(list_dot_product("
        "list_transform(range(64), i -> {a}[i+1] - {b}[i+1]), "
        "list_transform(range(64), i -> {a}[i+1] - {b}[i+1])) * 1e9) AS BIGINT)"
    )
    d2_8 = (
        "CAST(round(list_dot_product("
        "list_transform(range(8), i -> {a}[i+1] - {b}[i+1]), "
        "list_transform(range(8), i -> {a}[i+1] - {b}[i+1])) * 1e9) AS BIGINT)"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS c FROM e ORDER BY vec_id LIMIT 8),
assigned AS (
    SELECT neighbor_id, (min({{'d': d2s, 'c': cid}})).c AS cell
    FROM (
        SELECT e.vec_id AS neighbor_id, cents.cid,
               {d2_64.format(a="e.v", b="cents.c")} AS d2s
        FROM e, cents)
    GROUP BY neighbor_id
),
resid AS (
    SELECT a.neighbor_id, a.cell,
           list_transform(range(64), i -> e.v[i+1] - ct.c[i+1]) AS rv
    FROM assigned a
    JOIN e ON e.vec_id = a.neighbor_id
    JOIN cents ct ON ct.cid = a.cell
),
cb AS (SELECT neighbor_id AS code_id, rv FROM resid ORDER BY neighbor_id LIMIT 16),
cbs AS (SELECT code_id, s, rv[s*8+1 : s*8+8] AS cw FROM cb, unnest(range(8)) u(s)),
rsub AS (SELECT neighbor_id, cell, s, rv[s*8+1 : s*8+8] AS vs
         FROM resid, unnest(range(8)) u(s)),
codes AS (
    SELECT neighbor_id, cell, s,
           (min({{'d': {d2_8.format(a="vs", b="cw")}, 'c': code_id}})).c AS code_id
    FROM rsub JOIN cbs USING (s)
    GROUP BY neighbor_id, cell, s
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN {_QUERY_IDS}),
probes AS (
    SELECT query_id, cid AS cell,
           list_transform(range(64), i -> qv[i+1] - c[i+1]) AS qr
    FROM (
        SELECT q.query_id, cents.cid, cents.c, q.qv,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {d2_64.format(a="q.qv", b="cents.c")}, cents.cid) AS prn
        FROM q, cents)
    WHERE prn <= 2
),
qsub AS (SELECT query_id, cell, s, qr[s*8+1 : s*8+8] AS qs
         FROM probes, unnest(range(8)) u(s)),
qt AS (
    SELECT query_id, cell, s, code_id, {d2_8.format(a="qs", b="cw")} AS dq
    FROM qsub JOIN cbs USING (s)
),
adc AS (
    SELECT query_id, neighbor_id, CAST(sum(dq) AS BIGINT) AS adc_d2
    FROM codes JOIN qt USING (cell, s, code_id)
    WHERE neighbor_id <> query_id
    GROUP BY query_id, neighbor_id
)
"""


def _v12_oracle() -> str:
    return _ivfpq_body() + """
SELECT query_id, neighbor_id, adc_d2, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc_d2, neighbor_id) AS rn FROM adc)
WHERE rn <= 10
"""


def _v13_oracle(n_cand: int = 50, k: int = 10) -> str:
    return _ivfpq_body() + f""",
cand AS (
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY adc_d2, neighbor_id) AS crn FROM adc)
    WHERE crn <= {n_cand}
),
rer AS (
    SELECT c.query_id, c.neighbor_id,
           round({_duck_cosine("q.qv", "e.v")}, 6) AS cos_sim
    FROM cand c
    JOIN e ON e.vec_id = c.neighbor_id
    JOIN q ON q.query_id = c.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rn FROM rer)
WHERE rn <= {k}
"""


@register(
    "v12_ivfpq_adc_topk",
    oracle=_v12_oracle(),
    doc="IVF+PQ ANN top-10 (operators/similarity.ivfpq_adc_topk) - the "
    "production FAISS IVFx,PQy index composed from this engine's "
    "parts: min-L2 coarse inverted file (8 cells, 2 probed per query) "
    "prunes the corpus; residual product quantization (vector minus "
    "its centroid, 8 one-byte codes from a shared 16-codeword "
    "codebook) scores survivors via asymmetric distance without "
    "touching original vectors at query time. Deterministic lowest-id "
    "centroids + codebook make the whole index oracle-reproducible; "
    "per-vector exchange payload is (cell, 8 codes) ~ 9 longs.",
)
def v12_ivfpq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.ivfpq_adc_topk(emb, queries, k=10)


@register(
    "v13_ivfpq_rerank_topk",
    oracle=_v13_oracle(50, 10),
    doc="Two-stage retrieval (operators/similarity.ivfpq_rerank_topk) "
    "- the production ANN SERVING shape every vector database ships: "
    "the v12 IVF+PQ/ADC index shortlists 50 candidates per query "
    "from 8-byte codes, then ONLY the shortlist is re-scored against "
    "full-precision vectors with exact cosine for the true top-10 of "
    "the shortlist. ADC's recall loss is mostly order errors near "
    "the cut; reranking a 5x candidate set repairs them for "
    "|queries| x 50 full-vector reads. The candidate list broadcasts "
    "back onto the corpus (queries-sized), so stage 2 adds zero "
    "corpus-sized exchange - the asymmetry that lets the compressed "
    "index serve while full vectors stay in cold storage.",
)
def v13_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(*_QUERY_IDS))
    return S.ivfpq_rerank_topk(emb, queries, k=10, n_candidates=50)


@register(
    "t33_weighted_priority_sample",
    oracle=f"""
WITH scored AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                AS BIGINT) AS n_tokens,
           {duckdb_md5_long("CAST(doc_id AS VARCHAR)", salt="wps:")} % {X.WPS_U_MOD} AS u
    FROM documents
)
SELECT doc_id, n_tokens,
       CAST((n_tokens * {X.WPS_SCALE}) // (u + 1) AS BIGINT) AS priority
FROM scored
ORDER BY priority DESC, doc_id
LIMIT 50
""",
    doc="Priority sampling (Duffield-Lund-Thorup): top-k priorities "
    "q_i = w_i/u_i with md5-derived uniforms, weight = token count — "
    "the weighted cousin of hash_sample (t4's stratified rates) for "
    "sampling documents proportional to length. Priorities are exact "
    "integers ((w * 1e9) div (u+1)), so the sample is bit-identical "
    "across engines; Spark plans the top-k as TakeOrderedAndProject "
    "(per-partition heaps), never a global sort.",
)
def t33_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.weighted_priority_sample(load_table(spark, sf_dir, "documents"), k=50)


@register(
    "t34_boilerplate_removal",
    oracle=f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
wins AS (
    SELECT doc_id, source, i AS pos,
           {duckdb_md5_long("array_to_string(w[i:i+1], ' ')")} AS wh
    FROM (SELECT doc_id, source, w, unnest(range(1, len(w))) AS i
          FROM t WHERE len(w) >= 2)
),
ns AS (SELECT source, count(DISTINCT doc_id) AS nd FROM t GROUP BY 1),
f AS (SELECT source, wh, count(DISTINCT doc_id) AS df FROM wins GROUP BY 1, 2),
boiler AS (
    SELECT f.source, f.wh FROM f JOIN ns USING (source)
    WHERE f.df >= ceil(0.15 * nd)
),
fl AS (
    SELECT w.doc_id, w.pos, w.pos + 1 AS e,
           max(w.pos + 1) OVER (PARTITION BY w.doc_id ORDER BY w.pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM wins w JOIN boiler b ON w.source = b.source AND w.wh = b.wh
),
agg AS (
    SELECT doc_id, count(*) AS nbw,
           sum(greatest(e - greatest(coalesce(prev_end, 0), pos - 1), 0)) AS bt
    FROM fl GROUP BY doc_id
)
SELECT t.doc_id, t.source,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(coalesce(nbw, 0) AS BIGINT) AS n_boiler_windows,
       CAST(coalesce(bt, 0) AS BIGINT) AS boiler_tokens,
       round(coalesce(bt, 0) * 1.0 / greatest(len(w), 1), 6) AS boiler_ratio
FROM t LEFT JOIN agg USING (doc_id)
""",
    doc="Domain-conditioned boilerplate detection (the CCNet/"
    "trafilatura cleanup stage): a word 2-gram is boilerplate within "
    "its crawl source when it appears in >= ceil(15% x source's docs) "
    "distinct documents — headers/footers/nav repeat across a site's "
    "pages but not across the web. Per doc, boilerplate occurrences "
    "merge into maximal spans (the t23 interval-union window) and the "
    "covered-token count + ratio is reported. Distinct from t23's "
    "corpus-global 'appears twice anywhere': boilerplate is group-"
    "RELATIVE frequency. Params (k=2, 15%) sized to the synthetic "
    "fixture's vocabulary (its max per-source 2-gram doc-frequency is "
    "~0.28; real crawls run k=5..13, 30-60%). Scale shape: exploded "
    "tokens + lead over ONE per-doc sort (codegen, the t23 lesson); "
    "the frequency exchanges carry (source, 60-bit hash, doc_id) — "
    "never text; the boiler set semi-joins back and the span-union "
    "window reuses the per-doc partitioning. operators/text."
    "boilerplate_spans.",
)
def t34_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.boilerplate_spans(
        load_table(spark, sf_dir, "documents"), k=2, min_frac=0.15
    )


@register(
    "d10_lsh_recall_eval",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_minhash_cand_sql()},
lsh AS (
    SELECT doc_a, doc_b FROM cand
    WHERE round(len(list_intersect(sa, sb)) * 1.0 /
          (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) >= 0.5
),
ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_sh AS na, b.n_sh AS nb, count(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
),
truth AS (
    SELECT doc_a, doc_b FROM common
    WHERE round(c * 1.0 / (na + nb - c), 6) >= 0.5
),
hit AS (SELECT doc_a, doc_b FROM lsh INTERSECT SELECT doc_a, doc_b FROM truth)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM hit) * 1.0 /
             greatest((SELECT count(*) FROM truth), 1), 6) AS recall
""",
    doc="LSH quality evaluation as a first-class query (the dedup "
    "counterpart of v10's ANN recall eval): exact shingle-Jaccard "
    "truth pairs at tau=0.5 (the d2 inverted-index path) vs the "
    "d3 MinHash+LSH pipeline's verified pairs, emitting n_true / "
    "n_lsh / n_hit / recall in one row. Banding theory predicts "
    "recall 1-(1-J^r)^b = 1-(0.75)^8 ~ 0.90 at J=0.5 with 8 bands "
    "x 2 rows — the eval measures the real figure on the corpus, "
    "the number a production dedup rollout needs before trusting "
    "the approximate path. Both pair relations are pinned "
    "(pin) before their two consumers (count + "
    "intersection), the three scalar counts crossJoin broadcast-"
    "style, and every stage inherits the verified scale shapes of "
    "d2/d3 themselves.",
)
def d10_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        D.ngram_jaccard_pairs(docs, min_jaccard=0.5)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    lsh = (
        D.minhash_lsh_pairs(docs, min_jaccard=0.5, bucket_cap=None)
        .select("doc_a", "doc_b")
        .transform(pin)
    )
    hit = lsh.join(truth, ["doc_a", "doc_b"], "left_semi")
    nt = truth.agg(F.count("*").cast("long").alias("n_true"))
    nl = lsh.agg(F.count("*").cast("long").alias("n_lsh"))
    nh = hit.agg(F.count("*").cast("long").alias("n_hit"))
    return (
        nt.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_true",
            "n_lsh",
            "n_hit",
            F.round(
                F.col("n_hit") * F.lit(1.0)
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


@register(
    "d11_prefix_filter_jaccard",
    oracle=f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_sh AS na, b.n_sh AS nb, count(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, round(c * 1.0 / (na + nb - c), 6) AS jaccard
FROM common
WHERE round(c * 1.0 / (na + nb - c), 6) >= 0.5
""",
    doc="Exact Jaccard pairs via PREFIX FILTERING (Chaudhuri et al. "
    "2006): shingles ordered rarest-first by global document "
    "frequency; at threshold tau only each doc's first "
    "|S|-ceil(tau|S|)+1 shingles probe the join — LOSSLESS for "
    "J >= tau (no shared prefix element bounds the intersection "
    "below tau), so the oracle is simply the exact inverted-index "
    "answer. The technique the d2 docstring names as the standard "
    "scale mitigation, now implemented and evidenced: the plain "
    "join's cost is quadratic in the hottest shingle's posting "
    "list; the prefix order pushes frequent shingles out of the "
    "probe set, bounding the join by rare-token lists "
    "(operators/dedup.ngram_jaccard_pairs_prefix; candidate-"
    "reduction measured in SCALING.md).",
)
def d11_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), min_jaccard=0.5
    )


@register(
    "t35_token_entropy",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
    SELECT doc_id,
           sum(c) AS n,
           count(*) AS n_types,
           sum(c * ln(c)) AS slc
    FROM cnt GROUP BY doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(n_types AS BIGINT) AS n_types,
       round(ln(n) - slc / n, 6) AS token_entropy,
       round(n_types * 1.0 / n, 6) AS type_token_ratio
FROM agg
""",
    doc="Per-document token Shannon entropy + type-token ratio — the "
    "lexical-diversity quality signals (low entropy = spam/keyword-"
    "stuffing/repetition; complements t11's dup-share and t29's "
    "Gopher rules). H = ln(n) - sum(c*ln(c))/n computed in that "
    "exact algebraic form on BOTH engines (one ln per distinct "
    "token, errors ~1 ulp absorbed by the shared round(6)). Plan: "
    "explode -> (doc, token) count -> per-doc aggregate, two "
    "map-side-combinable exchanges whose payload is (doc, token "
    "hash-sized) rows; nothing corpus-quadratic, no Python.",
)
def t35_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    cnt = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * F.log("c")).alias("slc"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(F.log("n") - F.col("slc") / F.col("n"), 6).alias("token_entropy"),
        F.round(F.col("n_types") * F.lit(1.0) / F.col("n"), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "pipe8_canonical_selection",
    oracle=f"""
WITH RECURSIVE sig AS ({_simhash_sig_sql()}),
prs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM prs
    UNION
    SELECT doc_b, doc_a FROM prs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
q AS (
    SELECT doc_id,
           round(least(n_words / 100.0, 1.0) * 0.4
                 + (1.0 - least(n_punct * 1.0 / greatest(n_chars, 1) * 4, 1.0)) * 0.3
                 + least(n_stop * 1.0 / greatest(n_words, 1) * 5, 1.0) * 0.3, 6)
               AS quality_score
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['a','the','of','and','to','in','is','it'], t)))
                   AS n_stop
        FROM documents
    )
),
j AS (SELECT l.cluster_id, l.doc_id, q.quality_score FROM lab l JOIN q USING (doc_id))
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST((min({{'nq': -quality_score, 'id': doc_id}})).id AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       round(max(quality_score), 6) AS keep_quality
FROM j GROUP BY cluster_id
""",
    doc="Canonical document selection — the step production dedup "
    "runs AFTER clustering: near-dup clusters (d7's exact SimHash "
    "pair graph -> min-label connected components) each keep their "
    "highest-quality member (t2's heuristic score, ties to the "
    "smallest doc_id via an integer-exact min over a (-score, id) "
    "struct), emitting (cluster, keeper, size, kept quality). "
    "Composition of three verified primitives in ONE lazy plan; the "
    "argmax adds a single cluster-keyed map-side-combinable "
    "aggregate on top of d7's label relation — scores are rounded "
    "to 6 dp on both engines BEFORE comparison, so the argmax order "
    "is bit-deterministic. Singleton clusters pass through as their "
    "own keepers (the common case at web scale; the aggregate costs "
    "the same either way).",
)
def pipe8_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_pairs(docs, max_hamming=6, bucket_cap=None).select(
        "doc_a", "doc_b"
    )
    labels = D.dedup_clusters(docs.select("doc_id"), pairs)
    q = X.quality_scores(docs).select("doc_id", "quality_score")
    j = labels.join(q, "doc_id")
    return j.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id",
            F.struct((-F.col("quality_score")).alias("nq"), F.col("doc_id")),
        ).alias("keep_id"),
        F.count("*").cast("long").alias("n_members"),
        F.round(F.max("quality_score"), 6).alias("keep_quality"),
    )


def _pipe10_oracle() -> str:
    jac = "len(list_intersect(sa, sb)) * 1.0 / (len(sa) + len(sb) - len(list_intersect(sa, sb)))"
    return f"""
WITH RECURSIVE {_SHINGLES_CTE.strip()},
{_minhash_cand_sql()},
prs AS (
    SELECT doc_a, doc_b FROM cand
    WHERE {jac} >= 0.5
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM prs
    UNION
    SELECT doc_b, doc_a FROM prs
),
reach(a, b) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
lab AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
q AS (
    SELECT doc_id,
           round(least(n_words / 100.0, 1.0) * 0.4
                 + (1.0 - least(n_punct * 1.0 / greatest(n_chars, 1) * 4, 1.0)) * 0.3
                 + least(n_stop * 1.0 / greatest(n_words, 1) * 5, 1.0) * 0.3, 6)
               AS quality_score
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS n_punct,
               len(list_filter(string_split(text, ' '),
                   t -> list_contains(['a','the','of','and','to','in','is','it'], t)))
                   AS n_stop
        FROM documents
    )
),
j AS (SELECT l.cluster_id, l.doc_id, q.quality_score FROM lab l JOIN q USING (doc_id))
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST((min({{'nq': -quality_score, 'id': doc_id}})).id AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       round(max(quality_score), 6) AS keep_quality
FROM j GROUP BY cluster_id
"""


@register(
    "pipe10_canonical_selection_lsh",
    oracle=_pipe10_oracle(),
    doc="pipe8's PRODUCTION variant (VERDICT r5 task 6): identical "
    "canonical-selection contract (near-dup clusters keep their "
    "highest-quality member, integer-exact (-score, id) argmax) but "
    "the pair stage is d3's banded MinHash-LSH (shingle "
    "signatures -> band-bucket equi-join -> exact-Jaccard >= 0.5 "
    "verify) instead of pipe8's exact SimHash pair graph — the swap "
    "SCALING.md names as the 100-TB route, because banding's join "
    "input is candidate-sized while the exact pair stage re-buckets "
    "the full corpus per chunk. Cluster definitions differ from "
    "pipe8's BY DESIGN (Jaccard >= 0.5 vs hamming <= 6 are "
    "different near-dup relations); the oracle replicates the LSH "
    "pair set, the reachability closure, and the argmax exactly. "
    "bucket_cap=None keeps the oracle contract exact at any SF; "
    "production callers add the d13-evidenced hot-bucket cap.",
)
def pipe10_canonical_selection_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, min_jaccard=0.5, bucket_cap=None).select(
        "doc_a", "doc_b"
    )
    labels = D.dedup_clusters(docs.select("doc_id"), pairs)
    q = X.quality_scores(docs).select("doc_id", "quality_score")
    j = labels.join(q, "doc_id")
    return j.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id",
            F.struct((-F.col("quality_score")).alias("nq"), F.col("doc_id")),
        ).alias("keep_id"),
        F.count("*").cast("long").alias("n_members"),
        F.round(F.max("quality_score"), 6).alias("keep_quality"),
    )


@register(
    "fe3_feature_hashing",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
hashed AS (
    SELECT doc_id,
           {duckdb_md5_long("t", salt="fh:")} % 256 AS bucket,
           CASE WHEN {duckdb_md5_long("t", salt="fhs:")} % 2 = 1 THEN 1 ELSE -1 END AS sgn
    FROM tok WHERE t <> ''
),
vec AS (
    SELECT doc_id, bucket, sum(sgn) AS w
    FROM hashed GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(count(CASE WHEN w <> 0 THEN 1 END) AS BIGINT) AS nnz,
       CAST(sum(abs(w)) AS BIGINT) AS l1,
       CAST(sum(w * w) AS BIGINT) AS l2_sq
FROM vec GROUP BY doc_id
""",
    doc="Hashing-trick featurization (Weinberger et al. 2009 — the "
    "fixed-width bag-of-words encoder behind Vowpal-Wabbit-style "
    "linear models and the standard vocabulary-free baseline): each "
    "token hashes to one of 256 buckets with a second-hash +/-1 sign "
    "(the signed construction that makes collisions cancel in "
    "expectation, keeping inner products unbiased), per-document "
    "bucket weights are signed counts, and the query emits the "
    "sparse-vector summary (nnz / L1 / L2^2) — ALL integer-exact on "
    "both engines via the portable md5 hash family. Plan: explode "
    "(operators/text.hashed_tokens) -> (doc, bucket) "
    "partial-aggregable sum -> per-doc aggregate; the "
    "exchange payload is at most 256 rows per document regardless of "
    "document length — the dimensionality fix IS the scale bound, "
    "which is why the technique serves 100 TB corpora without a "
    "vocabulary pass.",
)
def fe3_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = X.hashed_tokens(load_table(spark, sf_dir, "documents"))
    vec = hashed.groupBy("doc_id", "bucket").agg(F.sum("sgn").alias("w"))
    return vec.groupBy("doc_id").agg(
        F.count(F.when(F.col("w") != 0, 1)).cast("long").alias("nnz"),
        F.sum(F.abs("w")).cast("long").alias("l1"),
        F.sum(F.col("w") * F.col("w")).cast("long").alias("l2_sq"),
    )


@register(
    "d12_containment_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.n_sh AS na, b.n_sh AS nb, count(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(c * 1.0 / least(na, nb), 6) AS containment,
       round(c * 1.0 / (na + nb - c), 6) AS jaccard
FROM common
WHERE round(c * 1.0 / least(na, nb), 6) >= 0.4
""",
    doc="Exact n-gram CONTAINMENT pairs (Broder 1997's second "
    "resemblance measure, C = |A∩B|/min(|A|,|B|)): the PARTIAL-"
    "duplication signal — a short document fully embedded in a "
    "longer one (quotation, boilerplate wrapping, page chrome) "
    "scores C≈1 while Jaccard, diluted by the size difference, "
    "structurally misses it. Same inverted-index dataflow as d2 "
    "(operators/dedup.ngram_containment_pairs — only the "
    "denominator algebra differs, so both measures ride one shingle "
    "join when run together), same prefix-filter/hot-shingle "
    "mitigations at 100 TB. Both measures emitted per pair for "
    "contrast; thresholded on containment.",
)
def d12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"), min_containment=0.4
    )


@register(
    "t36_line_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ln AS (
    SELECT doc_id, len(w) AS n_tokens, i AS line_idx,
           {duckdb_md5_long("array_to_string(w[(i*8+1):(i*8+8)], ' ')")} AS lh,
           least(8, len(w) - i * 8) AS nw
    FROM (SELECT doc_id, w,
                 unnest(range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i
          FROM t)
),
own AS (
    SELECT *, row_number() OVER (PARTITION BY lh ORDER BY doc_id, line_idx) AS rn
    FROM ln
)
SELECT doc_id,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       CAST(sum(CASE WHEN rn > 1 THEN nw ELSE 0 END) AS BIGINT) AS dropped_tokens,
       round(sum(CASE WHEN rn > 1 THEN nw ELSE 0 END) * 1.0 /
             greatest(max(n_tokens), 1), 6) AS dup_ratio
FROM own GROUP BY doc_id
""",
    doc="Corpus-global LINE-level exact dedup (CCNet, Wenzek et al. "
    "2020 §4.1; RefinedWeb): documents are cut into 8-token pseudo-"
    "lines (fixture text is single-line; real corpora split on "
    "newline with the identical dataflow), and each line survives "
    "only at its FIRST corpus occurrence — min (doc_id, line_idx) "
    "per line hash; later occurrences are dropped. Positional keep-"
    "first semantics, unlike t23/t27 (both occurrences flagged) and "
    "t34 (group-relative frequency). Per-doc drop accounting is the "
    "CCNet pre-LM-filter threshold signal. Scale shape (operators/"
    "text.line_dedup): non-overlapping lines need no per-doc sort — "
    "one fused explode(sequence)+project pass emits (doc_id, "
    "line_idx, hash, n_words), zero interpreted lambdas, text never "
    "shuffles; first-occurrence ownership is one hash-partitioned "
    "row_number window and accounting one groupBy — two exchanges "
    "on md5-uniform keys.",
)
def t36_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.line_dedup(load_table(spark, sf_dir, "documents"), line_words=8)


@register(
    "fe4_robust_scaler",
    oracle="""
WITH stats AS (
    SELECT l_returnflag, l_linestatus,
           quantile_cont(l_extendedprice, 0.5) AS med,
           quantile_cont(l_extendedprice, 0.75)
             - quantile_cont(l_extendedprice, 0.25) AS iqr
    FROM lineitem GROUP BY 1, 2
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus,
       round(l.l_extendedprice, 2) AS price,
       round(s.med, 6) AS seg_median,
       round(s.iqr, 6) AS seg_iqr,
       round(CASE WHEN s.iqr > 0
                  THEN (l.l_extendedprice - s.med) / s.iqr
                  ELSE 0 END, 6) AS price_scaled
FROM lineitem l JOIN stats s
  ON l.l_returnflag = s.l_returnflag AND l.l_linestatus = s.l_linestatus
""",
    doc="Per-segment robust feature scaling (the RobustScaler of the "
    "sklearn preprocessing family): (x - median) / IQR within each "
    "(returnflag, linestatus) segment — the outlier-resistant "
    "standardization step before the fe1-fe3 encoders in a feature "
    "pipeline; mean/std scaling shifts with the heavy tail that "
    "price columns always carry, quartiles don't. Scale shape: the "
    "stats relation is segments-sized (exact interpolated "
    "percentiles over each group — one aggregation exchange), then "
    "BROADCAST back onto the fact scan, so the per-row scaling pass "
    "is join-free on the fact side: one corpus-sized scan, zero "
    "fact-table shuffles. A zero-IQR segment (constant feature) "
    "scales to 0 by contract on both engines.",
)
def fe4_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        "l_extendedprice",
    )
    # ONE array-argument percentile aggregate instead of three scalar
    # ones: the exact-percentile aggregate buffers (and sorts) every
    # group value once PER AGGREGATE, so folding q25/q50/q75 into one
    # call cuts the buffered copies and sorts 3x (measured r12:
    # 1.8-2.2s -> 0.8-1.0s for the stats phase at sf0.1). Same
    # function, same interpolation - bit-identical values.
    stats = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
            ).alias("_q")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_q")[1].alias("med"),
            (F.col("_q")[2] - F.col("_q")[0]).alias("iqr"),
        )
    )
    return li.join(F.broadcast(stats), ["l_returnflag", "l_linestatus"]).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_linestatus",
        F.round("l_extendedprice", 2).alias("price"),
        F.round("med", 6).alias("seg_median"),
        F.round("iqr", 6).alias("seg_iqr"),
        F.round(
            F.when(
                F.col("iqr") > 0,
                (F.col("l_extendedprice") - F.col("med")) / F.col("iqr"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("price_scaled"),
    )


@register(
    "pipe9_entity_resolution",
    oracle="""
WITH RECURSIVE p AS (
    SELECT p_partkey AS id, p_brand, p_name,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
    FROM part
),
m AS (
    SELECT a.id AS src, b.id AS dst
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.id < b.id
    WHERE levenshtein(a.p_name, b.p_name) <= 2
),
ee AS (SELECT src, dst FROM m UNION SELECT dst, src FROM m),
reach(a, b) AS (
    SELECT id, id FROM p
    UNION
    SELECT r.a, ee.dst FROM reach r JOIN ee ON r.b = ee.src
),
comp AS (SELECT a AS id, min(b) AS entity_id FROM reach GROUP BY a),
canon AS (
    SELECT c.id, c.entity_id, p.price_cents,
           count(*) OVER (PARTITION BY c.entity_id) AS entity_size,
           first_value(c.id) OVER (PARTITION BY c.entity_id
                                   ORDER BY p.price_cents, c.id)
               AS canonical_key
    FROM comp c JOIN p ON p.id = c.id
)
SELECT id AS part_id,
       CAST(entity_id AS BIGINT) AS entity_id,
       CAST(entity_size AS BIGINT) AS entity_size,
       CAST(canonical_key AS BIGINT) AS canonical_key,
       CAST(CASE WHEN id = canonical_key THEN 1 ELSE 0 END AS BIGINT)
           AS is_canonical
FROM canon
""",
    doc="End-to-end entity resolution, the three-stage production ER "
    "pipeline composed from verified primitives: (1) candidate pairs "
    "by blocked fuzzy matching (j11's brand-block Levenshtein <= 2 — "
    "the blocking key confines the quadratic), (2) TRANSITIVE "
    "closure of the pairwise matches into entities via weakly-"
    "connected components (gr3's min-label pointer-doubling core — "
    "pairwise match is not an equivalence relation, so without the "
    "closure A~B~C splits into two entities), (3) one canonical "
    "survivor per entity by deterministic keeper policy (cheapest "
    "listing, ties by key — pipe8's min-over-struct argmax). Every "
    "record leaves labeled with its entity, the entity size, the "
    "canonical key, and an is_canonical flag — the master-data/"
    "golden-record shape. Iterative closure, so the oracle is a "
    "recursive CTE (gr3 technique) over RECORD-level edges; the "
    "engine instead runs the distinct-VALUE collapse (the d3 "
    "distinct-signature trick): matching is purely (brand, name)-"
    "determined, so the Levenshtein quadratic and the closure run "
    "on the tiny distinct-value graph and records only receive a "
    "broadcast label — the oracle hash-check IS the equivalence "
    "proof. Scale: the value quadratic is block-confined AND "
    "cardinality-collapsed (8M record distances -> 51k value "
    "distances at sf0.1); components run O(log diameter) rounds on "
    "the value graph; the keeper pass is one window over the "
    "entity key.",
)
def pipe9_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from kafka_flink_spark.operators.graph import connected_components

    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        "p_brand",
        "p_name",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    # Distinct-VALUE collapse (the d3 distinct-signature trick applied
    # to ER): matching is purely (brand, name)-determined, so the
    # Levenshtein quadratic and the closure run on the distinct value
    # relation — records only ever receive a broadcast label. At sf0.1
    # the record-level formulation evaluated ~8M distances and built a
    # 220k-edge record graph (18 s); the value graph is 1.6k nodes /
    # 600 edges for the same output.
    names = (
        p.select("p_brand", "p_name")
        .distinct()
        .select(
            "p_brand",
            "p_name",
            md5_long(F.concat_ws("|", "p_brand", "p_name")).alias("nid"),
        )
        .transform(pin)  # three consumers: two join legs + label map
    )
    a, b = names.alias("a"), names.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 2)
        .select(F.col("a.nid").alias("src"), F.col("b.nid").alias("dst"))
    )
    comp = connected_components(
        names.select(F.col("nid").alias("id")), edges, "id"
    ).select(F.col("id").alias("nid"), "component_id")
    labeled = p.join(F.broadcast(names), ["p_brand", "p_name"]).join(
        F.broadcast(comp), "nid"
    )
    w = Window.partitionBy("component_id")
    keeper = F.min(F.struct("price_cents", "id")).over(w)
    return labeled.select(
        F.col("id").alias("part_id"),
        F.min("id").over(w).cast("long").alias("entity_id"),
        F.count("*").over(w).cast("long").alias("entity_size"),
        keeper.getField("id").cast("long").alias("canonical_key"),
        F.when(F.col("id") == keeper.getField("id"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_canonical"),
    )


@register(
    "t37_dsir_importance",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           CAST(lang = 'en' AS INT) AS is_tgt,
           {duckdb_md5_long("w")} % 256 AS b
    FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
          FROM documents)
),
counts AS (
    SELECT b, count(*) AS rc, sum(is_tgt) AS tc FROM tok GROUP BY b
),
totals AS (SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM counts),
ratio AS (
    SELECT b,
           CAST(round(1e9 * CAST((tc + 1) * (r_tot + 256) AS DOUBLE)
                          / CAST((rc + 1) * (t_tot + 256) AS DOUBLE))
                AS BIGINT) AS r_e9
    FROM counts, totals
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(r_e9) AS BIGINT) AS imp_e9,
       round(sum(r_e9) * 1.0 / count(*), 3) AS mean_imp_e9
FROM tok JOIN ratio USING (b)
GROUP BY doc_id
""",
    doc="DSIR importance scoring (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): every document "
    "scored by how much its hashed-token profile resembles the "
    "TARGET domain (lang='en' here; any predicate works) relative to "
    "the raw corpus — the weight that decides which crawl documents "
    "enter the training mix, upstream of the t6/t33 samplers. "
    "Hashed unigram features (md5 % 256 buckets), Laplace-smoothed "
    "target/raw distributions; per the t18 no-transcendentals "
    "discipline each token contributes its probability ratio in "
    "integer 1e-9 units (one exact multiply + one correctly-rounded "
    "divide — bit-identical across engines, unlike a log-ratio sum), "
    "summed as longs. operators/text.dsir_importance. Scale: token "
    "stream exchanges once on the bucket long; the 256-row ratio "
    "table broadcasts; text never shuffles.",
)
def t37_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.dsir_importance(
        load_table(spark, sf_dir, "documents"), target_filter=F.col("lang") == "en"
    )


# Segment i's 'pixel' (of 60): the first md5 byte of its character
# range, as ahash_media reads it (``hashlib.md5(seg).digest()[0]``).
_M8_PIXEL = duckdb_md5_prefix(
    "substr(payload, CAST(i * (L // 60) + least(i, L % 60) + 1 AS INT), "
    "CAST((L // 60) + CASE WHEN i < L % 60 THEN 1 ELSE 0 END AS INT))",
    hex_chars=2,
    sql_type="INT",
)


@register(
    "m8_perceptual_near_dup",
    oracle=f"""
WITH media AS (
    SELECT doc_id AS media_id,
           (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
               AS media_type,
           text AS payload
    FROM documents
),
imgs AS (
    -- ASCII guard (ADVICE r5): the engine segments the payload's
    -- UTF-8 BYTES while substr below segments CHARACTERS; the two
    -- coincide exactly iff the payload is pure ASCII
    -- (octet_length = length). Both sides apply the same predicate,
    -- so the contract is provable at any fixture, not an assumption
    -- about this one.
    SELECT media_id, payload, length(payload) AS L
    FROM media
    WHERE media_type = 'image'
      AND octet_length(encode(payload)) = length(payload)
),
px AS (
    SELECT media_id, i,
           {_M8_PIXEL} AS v
    FROM (SELECT media_id, payload, L, unnest(range(0, 60)) AS i FROM imgs)
),
tot AS (SELECT media_id, sum(v) AS s FROM px GROUP BY 1),
sig AS (
    SELECT p.media_id,
           CAST(sum(CASE WHEN 60 * p.v > t.s
                         THEN (CAST(1 AS BIGINT) << CAST(p.i AS INT))
                         ELSE 0 END) AS BIGINT) AS ahash
    FROM px p JOIN tot t USING (media_id) GROUP BY 1
)
SELECT least(a.media_id, b.media_id) AS media_a,
       greatest(a.media_id, b.media_id) AS media_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.media_id < b.media_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
""",
    doc="Perceptual near-dup detection for image payloads (the pHash/"
    "aHash family): block-mean average-hash signatures — payload cut "
    "into 60 byte segments, one md5-derived 'pixel' per segment (the "
    "m-family fake-decode convention; a real deployment substitutes "
    "downsampled luma), bit i set iff 60*pixel_i > Σ pixels (exact "
    "integer mean comparison) — then hamming <= 6 pairs via the SAME "
    "chunk-banded pigeonhole join as d5 (operators/dedup."
    "hamming_near_pairs, extracted this session to take any 60-bit "
    "signature). Block LOCALITY is what m4's exact hash lacks: an "
    "edit confined to one region flips that segment's pixel only, so "
    "crops/retouches land at small hamming while md5 sees a "
    "different file. On the fixture the hamming histogram separates "
    "cleanly (near-dup pair at 6, random background at 15+). Scale: "
    "one Arrow mapInPandas pass per blob (no shuffle), 1 long per "
    "image as the exchange payload, banding exactly d5's plan. "
    "bucket_cap=None matches the exact all-pairs oracle at any SF.",
)
def m8_perceptual_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.dedup import hamming_near_pairs
    from kafka_flink_spark.operators.multimodal import ahash_media, blobs_from_documents

    media = blobs_from_documents(load_table(spark, sf_dir, "documents")).filter(
        (F.col("media_type") == "image")
        # ASCII guard mirrored from the oracle (ADVICE r5): keep only
        # payloads whose UTF-8 byte count equals their character
        # count, so the oracle's character-position substr provably
        # segments the same bytes ahash_media does.
        & (F.length("payload") == F.length(F.decode("payload", "UTF-8")))
    )
    sigs = ahash_media(media).persist()
    pairs = hamming_near_pairs(
        sigs, id_col="media_id", sig_col="ahash", max_hamming=6, bucket_cap=None
    )
    return pairs.select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


def _silhouette_oracle(k: int = 8, iterations: int = 2, dim: int = S.EMBED_DIM) -> str:
    d2 = (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])))"
    )
    ctes = _kmeans_ctes(k, iterations, dim, final_assign=False)
    return (
        ",\n".join(ctes)
        + f""",
d AS (SELECT e.vec_id, c.cid, {d2} AS d2 FROM e, c{iterations} c),
r AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d
),
ab AS (
    SELECT a.vec_id, a.cid, sqrt(a.d2) AS da, sqrt(b.d2) AS db
    FROM r a JOIN r b ON a.vec_id = b.vec_id AND b.rn = 2
    WHERE a.rn = 1
)
SELECT cid AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_members,
       round(CAST(sum(CAST(round((CASE WHEN greatest(da, db) > 0
                      THEN (db - da) / greatest(da, db) ELSE 0 END) * 1000000.0)
                      AS BIGINT)) AS DOUBLE)
             / (count(*) * 1000000.0), 6) AS mean_silhouette
FROM ab GROUP BY cid
"""
    )


@register(
    "cl2_silhouette_eval",
    oracle=_silhouette_oracle(),
    doc="Clustering-quality evaluation: simplified silhouette "
    "(Hruschka 2004 — the centroid-based variant sklearn offers for "
    "scale, where full silhouette's pairwise distances are "
    "quadratic): per point, a = distance to OWN centroid, b = "
    "distance to the nearest OTHER centroid, s = (b-a)/max(a,b); "
    "reported as per-cluster means over cl1's trained k=8 model — "
    "the v10/d10 evaluate-your-own-index pattern applied to "
    "clustering (train cl1, score cl2). Centroids come from the "
    "same deterministic 2-round Lloyd fit (lowest-id init, 9-dp "
    "centroid rounding), so the unrolled-SQL oracle reproduces them "
    "bit-for-bit; the best/second-best centroid distances are an "
    "array_sort over the broadcast centroid structs (zero-exchange "
    "narrow pass, exactly cl1's assignment shape) and the only "
    "exchange after training is the k-row cluster aggregate. At "
    "100 TB this scores at scan speed — the reason production "
    "monitoring uses simplified rather than pairwise silhouette.",
)
def cl2_silhouette_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.clustering import (
        _as_double,
        _centroid_array,
        _d2,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, iterations=2)
    base = emb.select("vec_id", _as_double("embedding").alias("v"))
    scored = base.crossJoin(F.broadcast(_centroid_array(cents))).withColumn(
        "_ds",
        F.array_sort(
            F.transform(
                "cs",
                lambda s: F.struct(
                    _d2(F.col("v"), s["c"]).alias("d2"), s["cid"].alias("cid")
                ),
            )
        ),
    )
    da = F.sqrt(F.col("_ds")[0]["d2"])
    db = F.sqrt(F.col("_ds")[1]["d2"])
    sil = F.when(
        F.greatest(da, db) > 0, (db - da) / F.greatest(da, db)
    ).otherwise(F.lit(0.0))
    return (
        scored.select(F.col("_ds")[0]["cid"].alias("cluster_id"), sil.alias("s"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            # w14 integer recipe: micro-quantize each silhouette, sum
            # the longs exactly, one IEEE divide — order-independent,
            # unlike round(avg(double), 6) which is a latent
            # cross-engine boundary trap.
            F.round(
                F.sum(F.round(F.col("s") * 1000000.0).cast("long")).cast("double")
                / (F.count("*") * 1000000.0),
                6,
            ).alias("mean_silhouette"),
        )
    )


def _nn_descent_oracle(build_k: int, rounds: int, out_k: int) -> str:
    """Unrolled-SQL NN-descent (the gr1/gr4 technique): the hash init
    and each refinement round as CTE levels, bit-matching the
    operator's deterministic recurrence."""
    md5w = duckdb_md5_long(
        "CAST(a.vec_id AS VARCHAR) || ':' || CAST(t.j AS VARCHAR)", salt="nnd:"
    ) + " % (SELECT n FROM nn)"
    levels = [
        f"""ring AS (
    SELECT DISTINCT a.vec_id AS u, {md5w} AS w
    FROM e a, range(1, {build_k + 1}) t(j)
),
g0 AS (
    SELECT r.u, r.w, round({_duck_cosine("va.v", "vb.v")}, 6) AS c
    FROM (SELECT u, w FROM ring WHERE u <> w) r
    JOIN e va ON va.vec_id = r.u JOIN e vb ON vb.vec_id = r.w
)"""
    ]
    for r in range(rounds):
        levels.append(
            f"""sym{r + 1} AS (SELECT u, w FROM g{r} UNION SELECT w AS u, u AS w FROM g{r}),
cand{r + 1} AS (
    SELECT DISTINCT p.w AS a, q.w AS b
    FROM sym{r + 1} p JOIN sym{r + 1} q ON p.u = q.u AND p.w < q.w
),
sc{r + 1} AS (
    SELECT ca.a, ca.b, round({_duck_cosine("va.v", "vb.v")}, 6) AS c
    FROM cand{r + 1} ca JOIN e va ON va.vec_id = ca.a JOIN e vb ON vb.vec_id = ca.b
),
g{r + 1} AS (
    SELECT u, w, c FROM (
        SELECT u, w, c, row_number() OVER (PARTITION BY u ORDER BY c DESC, w) AS rn
        FROM (
            SELECT DISTINCT u, w, c FROM (
                SELECT a AS u, b AS w, c FROM sc{r + 1}
                UNION ALL SELECT b AS u, a AS w, c FROM sc{r + 1}
                UNION ALL SELECT u, w, c FROM g{r}
            )
        )
    ) WHERE rn <= {build_k}
)"""
        )
    chain = ",\n".join(levels)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nn AS (SELECT count(*) AS n FROM e),
{chain}
SELECT u AS query_id, w AS neighbor_id, c AS cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT u, w, c, row_number() OVER (PARTITION BY u ORDER BY c DESC, w) AS rn
      FROM g{rounds})
WHERE rn <= {out_k}
"""


@register(
    "v14_nn_descent_knn_graph",
    oracle=_nn_descent_oracle(15, 2, 5),
    doc="NN-descent k-NN-graph construction (Dong, Moses & Li, WWW "
    "2011; operators/similarity.nn_descent) — the O(n*K^2)-per-round "
    "scale path when the exact O(n^2) blocked-GEMM build (v5) is "
    "unaffordable: at 1B vectors n^2 is 10^18 pair scores, NN-descent "
    "is ~25B spread over a few rounds. Deterministic variant: "
    "md5-hash pseudo-random init (a ring/lattice init is the "
    "algorithm's worst case — no long-range mixing; measured 6.6% "
    "recall vs 97% with the hash init at the same cost), fixed 2 "
    "rounds of 'two nodes sharing a neighbor become candidates', "
    "exact-cosine scoring of candidates only, (cos DESC, id ASC) "
    "tie-breaks — so the whole refinement is a pure function of the "
    "data and the unrolled-SQL oracle hash-matches it. Build width "
    "K=15 then truncate to top-5 (the standard over-build: recall@5 "
    "0.294 at K=5 vs 0.972 at K=15 on the fixture, both rounds=2, "
    "pinned in tests). Vectors travel only to score candidate pairs; "
    "per-node top-K plans as WindowGroupLimit.",
)
def v14_nn_descent_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.similarity import nn_descent

    emb = load_table(spark, sf_dir, "embeddings")
    return nn_descent(emb, k=15, rounds=2).filter(F.col("rn") <= 5)


@register(
    "pipe11_hybrid_retrieval_rrf",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
qpos AS (
    SELECT DISTINCT query_id, term, list_position(ts, term) AS first_pos
    FROM (SELECT doc_id AS query_id, ts, unnest(ts) AS term FROM toks
          WHERE doc_id IN {_QUERY_IDS})
),
qt AS (
    SELECT query_id, term FROM (
        SELECT query_id, term,
               row_number() OVER (PARTITION BY query_id ORDER BY first_pos) AS rn
        FROM qpos
    ) WHERE rn <= 8
),
dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_w FROM dl),
tr AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tr
    WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
lexterm AS (
    SELECT q.query_id, t.doc_id,
           CAST(round(round(
                round(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0), 6)
                * round((22 * s.total_w * t.tf) * 1.0
                        / (10 * s.total_w * t.tf + 3 * s.total_w
                           + 9 * d.dl * s.n_docs), 6),
                6) * 1000000, 0) AS BIGINT) AS s_e6
    FROM tf t JOIN qt q ON t.term = q.term AND t.doc_id <> q.query_id
         JOIN dft f ON t.term = f.term
         JOIN dl d ON t.doc_id = d.doc_id, stats s
),
lexs AS (SELECT query_id, doc_id, CAST(sum(s_e6) AS BIGINT) AS lex_e6
         FROM lexterm GROUP BY 1, 2),
lex AS (
    SELECT query_id, doc_id, CAST(rn AS INT) AS lex_rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY lex_e6 DESC, doc_id) AS rn
        FROM lexs
    ) WHERE rn <= 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN {_QUERY_IDS}),
vecsc AS (
    SELECT q.query_id, e.vec_id AS doc_id,
           round({_duck_cosine("q.qv", "e.v")}, 6) AS cos6
    FROM e, qv q WHERE e.vec_id <> q.query_id
),
vec AS (
    SELECT query_id, doc_id, CAST(rn AS INT) AS vec_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cos6 DESC, doc_id) AS rn FROM vecsc
    ) WHERE rn <= 50
),
fused AS (
    SELECT coalesce(l.query_id, v.query_id) AS query_id,
           coalesce(l.doc_id, v.doc_id) AS doc_id,
           l.lex_rank, v.vec_rank,
           CAST(coalesce(1000000000000 // (60 + l.lex_rank), 0)
              + coalesce(1000000000000 // (60 + v.vec_rank), 0) AS BIGINT)
               AS rrf_e12
    FROM lex l FULL OUTER JOIN vec v
      ON l.query_id = v.query_id AND l.doc_id = v.doc_id
)
SELECT query_id, doc_id, lex_rank, vec_rank, rrf_e12, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY rrf_e12 DESC, doc_id) AS rn FROM fused)
WHERE rn <= 10
""",
    doc="Hybrid retrieval with Reciprocal Rank Fusion (Cormack 2009; "
    "operators/retrieval.hybrid_retrieval_rrf) — the RAG serving "
    "pipeline: a BM25 lexical arm (t31's exactness recipe, promoted "
    "to per-(query, doc) scores via exact micro-unit-long cross-term "
    "sums) and a brute-force-cosine vector arm (v1's contract, "
    "top-50 shortlist) retrieve independently over the SAME corpus "
    "(query = the first 8 distinct tokens + the embedding of 3 probe "
    "docs), then fuse by rank only: rrf_e12 = sum of "
    "1e12 div (60 + rank) per arm, integer fixed point, missing arm "
    "contributes 0 — no score calibration between arms, the reason "
    "RRF is the production hybrid-search default. Top-10 per query "
    "under (rrf DESC, doc_id). Arms swap freely (IVF/LSH shortlist "
    "v2-v13 at scale); the fusion tail touches only shortlist-sized "
    "rows.",
)
def pipe11_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_spark.operators.retrieval import hybrid_retrieval_rrf

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return hybrid_retrieval_rrf(docs, emb, _QUERY_IDS)


@register(
    "t38_unicode_nfc",
    oracle=f"""
WITH snip AS (
    SELECT doc_id, substr(text, 1, 40) AS s FROM documents
),
forms AS (
    SELECT doc_id,
           replace(s, 'e', 'e' || chr(769)) AS decomposed,
           replace(s, 'e', chr(233)) AS composed
    FROM snip
)
SELECT doc_id,
       CAST(length(decomposed) AS BIGINT) AS n_decomposed,
       CAST(length(nfc_normalize(decomposed)) AS BIGINT) AS n_nfc,
       nfc_normalize(decomposed) = composed AS composed_match
FROM forms
""",
    doc="Unicode NFC normalization (operators/text.unicode_normalize) "
    "- the zeroth multilingual-corpus step: crawls mix composed "
    "(U+00E9) and decomposed (U+0065 U+0301) encodings, and every "
    "hash-based dedup treats them as different bytes unless "
    "normalized. The fixture text is ASCII, so the query SYNTHESIZES "
    "the mix deterministically (every 'e' in a 40-char snippet gains "
    "a combining acute) and checks the normalizer folds it back to "
    "the directly-composed form. Spark side is the documented Python "
    "escape hatch (Spark has no normalization builtin): Arrow-batched "
    "pandas_udf over unicodedata.normalize, a narrow projection fused "
    "with the scan - no shuffle, scan-speed at 100 TB; both engines "
    "implement UAX #15 (CPython unicodedata / DuckDB utf8proc), so "
    "lengths and the composed-equality bit match exactly.",
)
def t38_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Explicit escapes: decomposed = e + combining acute (U+0301),
    # composed = the precomposed e-acute (U+00E9). replace(), not
    # regexp: the needle is a literal.
    forms = docs.select(
        "doc_id",
        F.replace(
            F.substring("text", 1, 40), F.lit("e"), F.lit("e\u0301")
        ).alias("decomposed"),
        F.replace(
            F.substring("text", 1, 40), F.lit("e"), F.lit("\u00e9")
        ).alias("composed"),
    )
    nfc = X.unicode_normalize(forms, "decomposed", "NFC", out_col="nfc")
    return nfc.select(
        "doc_id",
        F.length("decomposed").cast("long").alias("n_decomposed"),
        F.length("nfc").cast("long").alias("n_nfc"),
        (F.col("nfc") == F.col("composed")).alias("composed_match"),
    )


_FE6_ORACLE = f"""
WITH w AS (
    SELECT CAST(range AS BIGINT) AS bucket,
           {duckdb_md5_long("CAST(range AS VARCHAR)", salt="lmw:")} % 2001 - 1000 AS w
    FROM range(256)
),
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
hashed AS (
    SELECT doc_id,
           {duckdb_md5_long("t", salt="fh:")} % 256 AS bucket,
           CASE WHEN {duckdb_md5_long("t", salt="fhs:")} % 2 = 1 THEN 1 ELSE -1 END AS sgn
    FROM tok WHERE t <> ''
),
vec AS (
    SELECT doc_id, bucket, sum(sgn) AS x, count(*) AS cnt
    FROM hashed GROUP BY doc_id, bucket
),
m AS (
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(sum(x * w.w) AS BIGINT) AS bow_margin
    FROM vec JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(bow_margin + 3 * n_tokens AS BIGINT) AS margin,
       (bow_margin + 3 * n_tokens) > 0 AS keep
FROM m
"""


@register(
    "fe6_linear_model_score",
    oracle=_FE6_ORACLE,
    doc="Linear-classifier quality filtering in pure whole-stage "
    "codegen (operators/text.linear_model_score) - fasttext-style "
    "inference IS a linear map over sparse bag-of-words features, so "
    "the JVM scale path is explode -> fe3's signed hashing-trick "
    "encoder (same fh:/fhs: hash family; one featurization pass "
    "serves both) -> partial-aggregable (doc, bucket) sums -> "
    "broadcast-join a 256-row md5-derived weight fixture (stand-in "
    "for offline-trained coefficients; swap in a learned-weights "
    "parquet and the plan is unchanged) -> per-doc integer margin + "
    "keep bit. No Python, no Arrow, no sigmoid (thresholding the "
    "margin IS thresholding the probability); the only exchange "
    "carries <= 256 rows per doc regardless of length. Complements "
    "model_quality_scores (t26), which demonstrates the Arrow escape "
    "hatch for non-linear scorers.",
)
def fe6_linear_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.linear_model_score(load_table(spark, sf_dir, "documents"))


_T39_SRC = "aeiounstrl"
_T39_MAPS = (  # doc_id % 4 -> (target chars, expected family)
    None,  # 0: untranslated ASCII stays Latin-dominant
    "аеиоунстрл",  # 1: Cyrillic
    "一二三四五六七八九十",  # 2: Han
    "αειουνστρλ",  # 3: Greek
)


@register(
    "t39_script_detection",
    oracle=f"""
WITH snip AS (
    SELECT doc_id, substr(text, 1, 60) AS s FROM documents
),
tr AS (
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
                WHEN 1 THEN translate(s, 'aeiounstrl', 'аеиоунстрл')
                WHEN 2 THEN translate(s, 'aeiounstrl', '一二三四五六七八九十')
                WHEN 3 THEN translate(s, 'aeiounstrl', 'αειουνστρλ')
                ELSE s END AS s
    FROM snip
),
cnt AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '[A-Za-z]')) AS BIGINT) AS n_latin,
           CAST(len(regexp_extract_all(s, '\\p{{Cyrillic}}')) AS BIGINT) AS n_cyrillic,
           CAST(len(regexp_extract_all(s, '\\p{{Han}}')) AS BIGINT) AS n_han,
           CAST(len(regexp_extract_all(s, '\\p{{Greek}}')) AS BIGINT) AS n_greek
    FROM tr
)
SELECT doc_id, n_latin, n_cyrillic, n_han, n_greek,
       CASE
         WHEN n_latin * 4 + 3 >= n_cyrillic * 4 + 2
              AND n_latin * 4 + 3 >= n_han * 4 + 1
              AND n_latin * 4 + 3 >= n_greek * 4 THEN 'latin'
         WHEN n_cyrillic * 4 + 2 >= n_han * 4 + 1
              AND n_cyrillic * 4 + 2 >= n_greek * 4 THEN 'cyrillic'
         WHEN n_han * 4 + 1 >= n_greek * 4 THEN 'han'
         ELSE 'greek'
       END AS dominant_script,
       round(n_latin * 1.0 /
             greatest(n_latin + n_cyrillic + n_han + n_greek, 1), 6)
           AS latin_ratio
FROM cnt
""",
    doc="Unicode-script detection (operators/text.script_profile) - "
    "the CCNet script filter that must precede stopword language-ID "
    "(t3 assumes a known script family; a Cyrillic or Han document "
    "scores 0 on every Latin stopword profile). The ASCII fixture is "
    "made multiscript DETERMINISTICALLY (doc_id mod 4 translates 10 "
    "frequent letters to Cyrillic / Han / Greek; variant 0 stays "
    "Latin), then per-doc script character counts, a deterministic "
    "dominant-script argmax (count*4+priority is unique per script, "
    "so the nested >= chain never ties), and the Latin ratio. Pure "
    "zero-shuffle codegen - one regexp_count per script class fused "
    "with the scan; Java \\p{IsXxx} and RE2 \\p{Xxx} classes "
    "select identical code points, so all counts sit inside the "
    "value hash.",
)
def t39_script_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    snip = F.substring("text", 1, 60)
    translated = (
        F.when(F.pmod("doc_id", F.lit(4)) == 1, F.translate(snip, _T39_SRC, _T39_MAPS[1]))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.translate(snip, _T39_SRC, _T39_MAPS[2]))
        .when(F.pmod("doc_id", F.lit(4)) == 3, F.translate(snip, _T39_SRC, _T39_MAPS[3]))
        .otherwise(snip)
    )
    return X.script_profile(
        docs.select("doc_id", translated.alias("text")), "text", "doc_id"
    )


@register(
    "t40_stupid_backoff_lm",
    oracle="""
WITH train AS (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS w
               FROM documents WHERE doc_id % 5 <> 4),
held AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
         FROM documents WHERE doc_id % 5 = 4),
tri_tr AS (
    SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tri
    FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM train WHERE len(w) >= 3)
),
c123 AS (SELECT tri, count(*) AS c123 FROM tri_tr GROUP BY tri),
bg_tr AS (
    SELECT w[i] || ' ' || w[i+1] AS bg
    FROM (SELECT w, unnest(range(1, len(w))) AS i FROM train WHERE len(w) >= 2)
),
cbg AS (SELECT bg, count(*) AS cbg FROM bg_tr GROUP BY bg),
uni AS (
    SELECT t AS w, count(*) AS c1
    FROM (SELECT unnest(w) AS t FROM train) WHERE t <> '' GROUP BY t
),
ntot AS (
    SELECT count(*) AS n_tok
    FROM (SELECT unnest(w) AS t FROM train) WHERE t <> ''
),
tri_h AS (
    SELECT doc_id,
           w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tri,
           w[i] || ' ' || w[i+1] AS ctx12,
           w[i+1] || ' ' || w[i+2] AS ctx23,
           w[i+1] AS w2, w[i+2] AS w3
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
          FROM held WHERE len(w) >= 3)
),
j AS (
    SELECT h.doc_id,
           c123.c123,
           b12.cbg AS c12, b23.cbg AS c23,
           u2.c1 AS c2, u3.c1 AS c3,
           ntot.n_tok
    FROM tri_h h
    LEFT JOIN c123 ON h.tri = c123.tri
    LEFT JOIN cbg b12 ON h.ctx12 = b12.bg
    LEFT JOIN cbg b23 ON h.ctx23 = b23.bg
    LEFT JOIN uni u2 ON h.w2 = u2.w
    LEFT JOIN uni u3 ON h.w3 = u3.w
    CROSS JOIN ntot
),
scored AS (
    SELECT doc_id,
           c123 IS NOT NULL AS seen,
           c23 IS NOT NULL AS bo1,
           c3 IS NOT NULL AS bo2,
           CAST(CASE
             WHEN c123 IS NOT NULL THEN round(c123 * 1e9 / c12)
             WHEN c23 IS NOT NULL THEN round(c23 * 2e9 / (c2 * 5))
             WHEN c3 IS NOT NULL THEN round(c3 * 4e9 / (n_tok * 25))
             ELSE 0 END AS BIGINT) AS s_e9
    FROM j
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       CAST(sum(CASE WHEN NOT seen AND bo1 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff1,
       CAST(sum(CASE WHEN NOT seen AND NOT bo1 AND bo2 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff2,
       CAST(sum(CASE WHEN NOT seen AND NOT bo1 AND NOT bo2 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(sum(s_e9) AS BIGINT) AS sb_e9,
       round(sum(s_e9) * 1.0 / count(*), 3) AS mean_sb_e9
FROM scored GROUP BY doc_id
""",
    doc="Trigram LM scoring with STUPID BACKOFF (Brants 2007 - the "
    "scheme invented FOR distributed web-scale LMs: every level a "
    "plain count ratio, no discounting pass, which is why it "
    "MapReduces where Kneser-Ney does not; operators/text."
    "stupid_backoff_scores). Trains on 80% of the corpus (doc_id mod "
    "5 <> 4, the d9 split) and scores the HELD-OUT 20%, so the "
    "backoff chain genuinely fires on unseen trigrams - self-scoring "
    "never backs off. Per level ONE correctly-rounded IEEE divide of "
    "exactly-representable integers in 1e-9 units (0.4 = 2/5 and "
    "0.16 = 4/25 fold into the integer numerator/denominator - the "
    "t18 exactness recipe extended to the chain); per-doc sums are "
    "long aggregates. Completes the LM-quality-filter family: t14 "
    "unigram, t18 smoothed bigram self-likelihood, t40 held-out "
    "backoff scoring - the CCNet 'perplexity filter' shape without "
    "transcendentals.",
)
def t40_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 5 != 4)
    held = docs.filter(F.col("doc_id") % 5 == 4)
    return X.stupid_backoff_scores(train, held)


def _graph_ann_oracle(k: int = 10, k_graph: int = 8, beam: int = 8, rounds: int = 4, n_entries: int = 8) -> str:
    """Frontier-lazy unrolled beam search (r10): the old oracle
    materialized the ENTIRE exact k-NN graph (an all-pairs n^2 cosine
    relation) before walking it, which exceeded a 60 GB DuckDB spill
    bound at sf0.1 — the one hole in the 10x attestation. The walk
    only ever consults the adjacency rows of nodes actually in some
    query's beam, so each round now computes the exact k_graph
    neighbors of JUST the current frontier (<= n_queries x beam
    nodes): per-round cost falls from n^2 to |frontier| x n cosines
    with bit-identical results (the per-src row_number window over
    the same (round(cos,6) DESC, id) order is unchanged; restricting
    src before the window cannot change a per-src ranking)."""
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    cos = _duck_cosine("q.qv", "e.v")
    entry_hash = duckdb_md5_long(
        "CAST(query_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)", salt="gann:"
    )
    n_entries_plus_1 = n_entries + 1
    parts = [
        f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({ids})),
n AS (SELECT count(*) AS n FROM e),
f0 AS (SELECT DISTINCT query_id, node FROM (
    SELECT query_id,
           {entry_hash} % (SELECT n FROM n) AS node
    FROM q, range(1, {n_entries_plus_1}) r(j))
    WHERE node <> query_id),
s0 AS (SELECT c.query_id, c.node, round({cos}, 6) AS cs
       FROM f0 c JOIN q ON c.query_id = q.query_id
       JOIN e ON c.node = e.vec_id)"""
    ]
    prev = "f0"
    all_s = ["s0"]
    for r in range(1, rounds + 1):
        parts.append(f""",
g{r} AS (
    SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                   ORDER BY round({_duck_cosine("a.v", "b.v")}, 6) DESC,
                            b.vec_id) AS rn
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id IN (SELECT node FROM {prev}))
    WHERE rn <= {k_graph}
),
c{r} AS (SELECT DISTINCT query_id, node FROM (
    SELECT f.query_id, g.dst AS node FROM {prev} f JOIN g{r} g ON f.node = g.src
    UNION ALL SELECT query_id, node FROM {prev})
    WHERE node <> query_id),
s{r} AS (SELECT c.query_id, c.node, round({cos}, 6) AS cs
       FROM c{r} c JOIN q ON c.query_id = q.query_id
       JOIN e ON c.node = e.vec_id),
f{r} AS (SELECT query_id, node FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cs DESC, node) AS rn FROM s{r}) WHERE rn <= {beam})""")
        prev = f"f{r}"
        all_s.append(f"s{r}")
    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in all_s)
    parts.append(f""",
vis AS (SELECT DISTINCT query_id, node, cs FROM ({union})
        WHERE node <> query_id)
SELECT query_id, node AS neighbor_id, cs AS cos_sim, CAST(rn AS INT) AS rn
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cs DESC, node) AS rn FROM vis)
WHERE rn <= {k}""")
    return "".join(parts)


@register(
    "v15_graph_ann_search",
    oracle=_graph_ann_oracle(),
    doc="ANN QUERY over the k-NN-graph index (operators/similarity."
    "graph_ann_search) - greedy beam search, the HNSW/NSG serving "
    "principle on a flat graph: 8 md5-derived entry points per query "
    "(the DiskANN medoid-plus-random-starts recipe - load-bearing "
    "here because the i.i.d.-random fixture embeddings have no "
    "navigable manifold, where a single walk stalls at recall ~0.15; "
    "multi-entry measures 0.53, floor-tested >= 0.4), 4 rounds of "
    "expand-the-beam's-graph-neighbors + exact rescoring, beam 8, "
    "answer = top-10 of everything visited. Completes the index "
    "family's QUERY paths (LSH buckets v2/v4, IVF cells v3/v8, PQ "
    "codes v11-v13) with the graph index v5/v7/v14 only BUILT. Fully "
    "deterministic (fixed entry/rounds, (cos DESC, id ASC) ties), so "
    "the whole search unrolls to SQL CTEs over v5's exact-graph "
    "oracle. Per query per round: beam x k_graph id-joins + exact "
    "scores - independent of corpus size; the corpus-scale cost is "
    "the one-time index build, which is the ANN trade.",
)
def v15_graph_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.graph_ann_search(load_table(spark, sf_dir, "embeddings"), _QUERY_IDS)
