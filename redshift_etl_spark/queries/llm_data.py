"""Training-data pipeline queries — dedup, similarity search, text
analysis — over `documents` / `embeddings`, each with an ANSI/DuckDB
oracle twin built from the SAME canonical definitions (md5 hashing,
whitespace tokens, word-3-gram shingles, left-fold double arithmetic).

These are first-class engine operators (BASELINE.json north-star), not
demos: every one is shuffle-minimal and driver-state-free (see the
operator modules for the 100 TB design notes).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as TX
from .tables import load

QUERIES = {}
ORACLES = {}


def _q(name: str, oracle: str | None):
    # Bare dict writes silently shadow an earlier same-name query (this
    # bit three rounds running: shard_manifest, cdc_apply, and two dead
    # module-level defs) — collisions must fail at import time.
    def deco(fn):
        if name in QUERIES:  # raise, not assert: -O must not disable this
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# DuckDB shingle fragment shared by several oracles: distinct word
# 3-grams, 1-based list indexing (mirrors operators.dedup.shingles_col).
_DUCK_SHINGLES = """
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(str_split(text, ' ')) - 1),
      i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
           || ' ' || str_split(text, ' ')[i+2])
  )) AS shingle
  FROM documents
  WHERE len(str_split(text, ' ')) >= 3
"""


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

@_q(
    "dedup_exact",
    """
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------

@_q(
    "dedup_jaccard",
    f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
""",
)
def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=3)


# ---------------------------------------------------------------------------
# MinHash + banded LSH candidate pairs (8 hashes, 2 bands of 4)
# ---------------------------------------------------------------------------

def _minhash_oracle() -> str:
    # same 32-bit family as operators/dedup.minhash_signatures: four
    # 8-hex-char slices per salted md5
    sig_cols = ",\n    ".join(
        f"min(substr(md5('{j // 4}:' || shingle), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(8)
    )
    agree = " + ".join(f"CAST(a.h{j} = b.h{j} AS INT)" for j in range(8))
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT *, md5(h0 || h1 || h2 || h3) AS band0,
            md5(h4 || h5 || h6 || h7) AS band1
  FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({agree}) / 8.0 AS est_jaccard
FROM banded a
JOIN banded b
  ON a.doc_id < b.doc_id
 AND (a.band0 = b.band0 OR a.band1 = b.band1)
"""


@_q("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2, shingle_n=3
    )


# ---------------------------------------------------------------------------
# SimHash signatures (16-bit, md5-nibble construction)
# ---------------------------------------------------------------------------

def _simhash_oracle(bits: int = 16) -> str:
    sums = []
    for b in range(bits):
        pos = b // 4 + 1
        shift = 3 - b % 4
        nib = f"(instr('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
        sums.append(f"SUM((({nib} >> {shift}) & 1) * 2 - 1) AS s{b}")
    pack = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** (bits - 1 - b)} ELSE 0 END)"
        for b in range(bits)
    )
    sums_sql = ",\n    ".join(sums)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS w
  FROM documents
),
h AS (SELECT doc_id, md5(w) AS h FROM tok),
bits AS (
  SELECT doc_id,
    {sums_sql}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({pack} AS BIGINT) AS simhash
FROM bits
"""


@_q("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", bits=16)


# ---------------------------------------------------------------------------
# Similarity search — exact brute-force cosine top-k (queries = vec_id < 5)
# ---------------------------------------------------------------------------

_ANN_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM c WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(
           list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
           6
         ) AS cosine
  FROM q JOIN c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
) WHERE rank <= 3
"""


@_q("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.cosine_topk(emb, queries, "vec_id", "embedding", k=3)


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs
# ---------------------------------------------------------------------------

_EMB_DEDUP_ORACLE = """
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
           6
         ) AS cosine
  FROM c a JOIN c b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.45
"""


@_q("dedup_embedding_cosine", _EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.45 sits above the p99.9 of the testdata's cosine
    # distribution (max ≈ 0.51) so the result is small but non-empty.
    # Distributed block-pair numpy kernel: exact all-pairs, partitioned
    # into block-pair groups executed executor-side via applyInPandas —
    # no driver collect anywhere (see cosine_pairs_blocked for the
    # B·|data| replication math and the fold-order bit-parity contract);
    # rounding + the final threshold test stay Spark-side so ROUND
    # semantics match the oracle.
    #
    # This is the EXACT BASELINE, quadratic by contract — at 100× it
    # does not finish, however distributed. The catalog's default
    # embedding-dedup is `lsh_bucketed_cosine` below, which gates the
    # same exact kernel behind banded LSH buckets so no quadratic tile
    # ever spans the full table.
    emb = load(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs_blocked(
        emb, "vec_id", "embedding", threshold=0.45
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= 0.45)


# ---------------------------------------------------------------------------
# Text stats / quality / fingerprints
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{w}'" for w in TX.STOPWORDS)

_TEXT_STATS_ORACLE = f"""
SELECT
  doc_id,
  CAST(length(text) AS BIGINT)                           AS n_chars,
  CAST(len(str_split(text, ' ')) AS BIGINT)              AS n_tokens,
  CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
  CAST(len(regexp_extract_all(text, '{TX.TOKEN_REGEX}')) AS BIGINT) AS n_regex_tokens,
  CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / len(str_split(text, ' '))                          AS avg_token_len,
  CAST(len(list_filter(str_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
    / len(str_split(text, ' '))                          AS stopword_ratio,
  CASE WHEN len(str_split(text, ' ')) >= 20
        AND len(str_split(text, ' ')) <= 95
        AND CAST(len(list_filter(str_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
              / len(str_split(text, ' ')) < 0.5
        AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(str_split(text, ' ')) >= 2.0
       THEN 1 ELSE 0 END                                 AS is_quality,
  md5(text)                                              AS exact_fingerprint,
  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))
                                                         AS bow_fingerprint
FROM documents
"""


@_q("text_stats", _TEXT_STATS_ORACLE)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.text_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Language-ID heuristic (marker-token argmax; fold order = sorted langs,
# later language wins only on strictly more hits)
# ---------------------------------------------------------------------------

def _lang_id_oracle() -> str:
    hit_cols = ",\n  ".join(
        "CAST(len(list_filter(str_split(text, ' '), w -> w IN ({}))) AS BIGINT)"
        " AS hits_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in TX.LANG_MARKERS.items()
    )
    # Replicate the fold: start at ('unknown', 0); per sorted lang, take it
    # only on strictly-more hits.
    steps = []
    prev_b, prev_n = "'unknown'", "0"
    for i, lang in enumerate(sorted(TX.LANG_MARKERS)):
        b = f"CASE WHEN hits_{lang} > {prev_n} THEN '{lang}' ELSE {prev_b} END"
        n = f"CASE WHEN hits_{lang} > {prev_n} THEN hits_{lang} ELSE {prev_n} END"
        prev_b, prev_n = b, n
        steps.append((b, n))
    predicted = prev_b
    return f"""
WITH h AS (
  SELECT doc_id, lang,
  {hit_cols}
  FROM documents
)
SELECT doc_id, lang, hits_de, hits_en, hits_es, hits_fr,
       {predicted} AS predicted_lang,
       CAST(({predicted}) = lang AS INT) AS lang_match
FROM h
"""


@_q("lang_id", _lang_id_oracle())
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = TX.lang_scores(docs, "text")
    return scored.select(
        "doc_id",
        "lang",
        "hits_de",
        "hits_en",
        "hits_es",
        "hits_fr",
        "predicted_lang",
        (F.col("predicted_lang") == F.col("lang")).cast("int").alias("lang_match"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (half-band candidates + Hamming verify; oracle
# replicates the identical candidate rule so recall semantics match)
# ---------------------------------------------------------------------------

def _simhash_pairs_oracle(bits: int = 16, max_hamming: int = 3) -> str:
    base = _simhash_oracle(bits)
    half = bits // 2
    return f"""
WITH sig AS ({base}),
banded AS (
  SELECT doc_id, simhash,
         simhash >> {half} AS hi, simhash % {2 ** half} AS lo
  FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM banded a JOIN banded b
  ON a.doc_id < b.doc_id AND (a.hi = b.hi OR a.lo = b.lo)
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@_q("dedup_simhash_pairs", _simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        docs, "doc_id", "text", bits=16, max_hamming=3
    ).select("doc_a", "doc_b", F.col("hamming").cast("long"))


# ---------------------------------------------------------------------------
# Approximate distinct (HLL sketch). Sketch INTERNALS are engine-specific
# (Spark's HLL++ vs anything an oracle could run), so the portable
# contract is emitted instead of the estimate: the exact distinct count
# plus `within_tol` = |approx − exact|·10 ≤ exact (pure bigint test,
# i.e. the rsd=0.02 sketch landed within 10% ≈ 5σ). Both engines
# hash-match on (exact, TRUE) while the Spark side genuinely exercises
# the sketch — the 100 TB path uses approx_count_distinct, not exact
# COUNT(DISTINCT) (exact twin: `agent_metrics.unique_props`/A4).
# ---------------------------------------------------------------------------

@_q(
    "approx_distinct",
    """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY event_type
""",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("__approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("__approx") - F.col("exact_users")) * 10
                <= F.col("exact_users")
            ).alias("within_tol"),
        )
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the scale path): random-hyperplane buckets, exact
# rescoring inside the bucket. The planes are md5-derived constants, so
# the oracle replicates them as literal arrays — full value check of an
# *approximate* index.
# ---------------------------------------------------------------------------

def _ann_lsh_oracle(dims: int = 64, planes: int = 8, k: int = 3) -> str:
    from ..operators.similarity import _plane_component

    plane_arrays = [
        "[" + ", ".join(repr(_plane_component(p, d)) for d in range(dims)) + "]"
        for p in range(planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {2 ** p} ELSE 0 END)"
        for p, arr in enumerate(plane_arrays)
    )
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM c),
q AS (SELECT * FROM sig WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
         ROUND(
           list_dot_product(q.v, s.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(s.v, s.v))),
           6
         ) AS cosine
  FROM q JOIN sig s ON q.bucket = s.bucket AND q.vec_id <> s.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@_q("ann_topk_lsh", _ann_lsh_oracle())
def ann_topk_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return S.ann_topk_lsh(
        emb, queries, "vec_id", "embedding", dims=64, planes=8, k=3
    )


# ---------------------------------------------------------------------------
# Bucketed embedding dedup — THE default scale path (banded LSH buckets
# → exact blocked rescoring inside each bucket). `dedup_embedding_cosine`
# above is the exact-all-pairs baseline this trades against; that one is
# O(n²) compute by contract and does not finish at 100×, this one's
# quadratic tiles never span the full table. The oracle replicates the
# md5-derived band buckets literally (an OR-of-band-equalities join) and
# the same exact cosine — a full value check of the approximate index.
# ---------------------------------------------------------------------------

def _lsh_pairs_ctes(
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
    threshold: float = 0.45,
) -> str:
    """Shared CTE body: banded-bucket candidate join + exact cosine,
    ending in qualified(vec_a, vec_b, cosine)."""
    from ..operators.similarity import _plane_component

    r = planes_per_band
    bucket_cols = []
    for b in range(bands):
        terms = []
        for j in range(r):
            arr = "[" + ", ".join(
                repr(_plane_component(b * r + j, d)) for d in range(dims)
            ) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0"
                f" THEN {2 ** j} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(terms) + f" AS b{b}")
    band_match = " OR ".join(f"a.b{b} = s.b{b}" for b in range(bands))
    buckets = ",\n       ".join(bucket_cols)
    return f"""
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
  SELECT vec_id, v,
       {buckets}
  FROM c
),
pairs AS (
  SELECT a.vec_id AS vec_a, s.vec_id AS vec_b,
         ROUND(
           list_dot_product(a.v, s.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(s.v, s.v))),
           6
         ) AS cosine
  FROM sig a JOIN sig s
    ON a.vec_id < s.vec_id AND ({band_match})
),
qualified AS (SELECT * FROM pairs WHERE cosine >= {threshold})"""


def _lsh_bucketed_cosine_oracle() -> str:
    return f"""
WITH {_lsh_pairs_ctes()}
SELECT vec_a, vec_b, cosine FROM qualified
"""


@_q("lsh_bucketed_cosine", _lsh_bucketed_cosine_oracle())
def lsh_bucketed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 8 bands × 3 planes: per-plane agreement at cosine 0.45 is
    # p ≈ 0.65, so candidate recall ≈ 1 − (1 − p³)⁸ ≈ 0.92 — and rises
    # toward 1 for closer duplicates. Deterministic planes make that
    # recall exactly reproducible (and oracle-checkable), not a
    # probabilistic expectation.
    emb = load(spark, sf_dir, "embeddings")
    pairs = S.lsh_bucketed_cosine_pairs(
        emb, "vec_id", "embedding", dims=64, bands=8, planes_per_band=3,
        threshold=0.45,
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= 0.45)


# ---------------------------------------------------------------------------
# The full embedding-dedup recipe, end to end: banded-LSH candidate
# pairs → exact rescoring → connected components → one keep decision
# per cluster (min id survives, the rest are the drop set). This is the
# query a 100 TB pipeline actually runs; the pair queries above are its
# observable stages. Oracle: same bucketed pairs + recursive-CTE
# transitive closure (exact at oracle scale).
# ---------------------------------------------------------------------------

@_q(
    "embedding_dedup_clusters",
    f"""
WITH RECURSIVE {_lsh_pairs_ctes()},
sym AS (
  SELECT vec_a AS a, vec_b AS b FROM qualified
  UNION ALL SELECT vec_b, vec_a FROM qualified
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT component AS keep_id, COUNT(*) AS n_vecs,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
)
GROUP BY component
""",
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pairs = S.lsh_bucketed_cosine_pairs(
        emb, "vec_id", "embedding", dims=64, bands=8, planes_per_band=3,
        threshold=0.45,
    ).select(
        "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= 0.45)
    cc = D.connected_components(pairs, "vec_a", "vec_b")
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
    ).select(
        F.col("component").alias("keep_id"), "n_vecs", "n_dropped"
    )


# ---------------------------------------------------------------------------
# Multimodal feature extraction — the mapInPandas decode pipeline over a
# binary media column (synthesized from documents; the deterministic
# fake decoder is md5-derived, so the oracle replicates it exactly —
# this checks the full Arrow batch plumbing end-to-end).
# ---------------------------------------------------------------------------

_MEDIA_FEATURES_ORACLE = """
SELECT
  doc_id                                                         AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT)                     AS byte_len,
  md5(text)                                                      AS content_md5,
  CAST(1 + ('0x' || substr(md5(text), 1, 4))::BIGINT % 4096 AS INT)  AS width,
  CAST(1 + ('0x' || substr(md5(text), 5, 4))::BIGINT % 4096 AS INT)  AS height,
  CAST(1 + ('0x' || substr(md5(text), 9, 1))::BIGINT % 4 AS INT)     AS n_channels,
  ROUND((('0x' || substr(md5(text), 10, 4))::BIGINT % 25600) / 100.0, 2)
                                                                 AS mean_luma
FROM documents
"""


@_q("media_features", _MEDIA_FEATURES_ORACLE)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    return MM.extract_image_features(media)


# ---------------------------------------------------------------------------
# Audio features — a REAL codec round-trip: per-document WAV bytes are
# synthesized (stdlib `wave`, deterministic PCM), then decoded back by
# the real stdlib decoder in extract_audio_features. The oracle
# independently predicts every recovered field from the synthesis
# parameters — so a decoder that misparses headers, frame counts, or
# sample packing hash-mismatches immediately.
# ---------------------------------------------------------------------------

# synthesis parameters (shared by query + oracle): n_samples = 50 +
# length(text) % 200, channels = 1 + doc_id % 2, rate 8000 Hz, 16-bit →
# byte_len = 44-byte canonical header + 2·samples·channels; the ramp
# peaks at (total_samples − 1)·16 while total < 1000 (always true here)
_AUDIO_ORACLE = """
WITH p AS (
  SELECT doc_id, 50 + length(text) % 200 AS ns, 1 + doc_id % 2 AS nc
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(44 + 2 * ns * nc AS BIGINT)        AS byte_len,
       CAST(nc AS INT)                         AS n_channels,
       CAST(8000 AS INT)                       AS sample_rate,
       CAST(ns AS BIGINT)                      AS n_frames,
       CAST((ns * 1000) // 8000 AS BIGINT)     AS duration_ms,
       CAST((ns * nc - 1) * 16 AS INT)         AS peak_amplitude
FROM p
"""


@_q("audio_features", _AUDIO_ORACLE)
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [
                        MM.synth_wav(
                            50 + len(t) % 200, 8000, 1 + int(d) % 2
                        )
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    media = docs.select("doc_id", "text").mapInPandas(
        synth, schema="media_id long, content binary"
    )
    return MM.extract_audio_features(media)


# ---------------------------------------------------------------------------
# IVF ANN — codebook trained by deterministic Lloyd's k-means (seeded
# from the 8 lowest-id vectors, scaled-integer centroid means — see
# operators/similarity.kmeans_codebook for why the training is
# bit-replicable cross-engine), corpus bucketed by nearest centroid,
# queries probe their own bucket, exact rescore. The oracle replicates
# BOTH the training iterations and the probe relationally.
# ---------------------------------------------------------------------------


def _duck_cos(a: str, b: str) -> str:
    return (
        f"ROUND(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _duck_assign(out: str, cent: str) -> str:
    return f"""{out} AS (
  SELECT vec_id, v, cent_id AS cluster FROM (
    SELECT c.vec_id, c.v, {cent}.cent_id,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_duck_cos("c.v", cent + ".cv")} DESC,
                      {cent}.cent_id ASC
           ) AS rn
    FROM c CROSS JOIN {cent}
  ) WHERE rn = 1
)"""


def _duck_cent_mean(i: int, scale: int) -> str:
    # scaled-integer mean: SUM over BIGINT is order-exact, so the
    # centroid bits match Spark's partitioned aggregation
    return f"""cent{i + 1} AS (
  SELECT cluster AS cent_id, list(cval ORDER BY pos) AS cv FROM (
    SELECT cluster, pos,
           CAST(SUM(CAST(ROUND(val * {scale}) AS BIGINT)) AS DOUBLE)
             / ({scale}.0 * COUNT(*)) AS cval
    FROM (SELECT cluster, unnest(range(1, len(v) + 1)) AS pos,
                 unnest(v) AS val
          FROM assign{i})
    GROUP BY cluster, pos
  ) GROUP BY cluster
)"""


def _ivf_train_ctes(
    k: int = 8, iters: int = 2, scale: int = 10**6
) -> list[str]:
    """The deterministic-Lloyd's training chain as CTE fragments —
    ends with ``assignF`` (vec_id, v, cluster) and ``cent{iters}``
    (cent_id, cv). Shared by the IVF probe oracle and IVF-PQ."""
    parts = [
        "c AS "
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cent_id, v AS cv FROM c "
        f"ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters):
        parts.append(_duck_assign(f"assign{i}", f"cent{i}"))
        parts.append(_duck_cent_mean(i, scale))
    parts.append(_duck_assign("assignF", f"cent{iters}"))
    return parts


def _adaptive_train_ctes(
    target_cluster_rows: int, iters: int = 2, scale: int = 10**6
) -> list[str]:
    """`similarity.adaptive_kmeans_codebook`'s training chain in SQL:
    k = ceil(n / target) from a COUNT, seeds = the k lowest
    md5(cast(id)) vectors (id tiebreak), then the same scaled-integer
    Lloyd's iterations as `_ivf_train_ctes`."""
    parts = [
        "c AS "
        "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"kk AS (SELECT GREATEST(1, CAST(CEIL(COUNT(*) "
        f"/ {target_cluster_rows}.0) AS BIGINT)) AS kv FROM c)",
        """cent0 AS (
  SELECT vec_id AS cent_id, v AS cv FROM (
    SELECT vec_id, v, row_number() OVER (
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
    ) AS rn FROM c
  ) CROSS JOIN kk WHERE rn <= kv
)""",
    ]
    for i in range(iters):
        parts.append(_duck_assign(f"assign{i}", f"cent{i}"))
        parts.append(_duck_cent_mean(i, scale))
    parts.append(_duck_assign("assignF", f"cent{iters}"))
    return parts


def _ivf_kmeans_oracle(
    k: int = 8, iters: int = 2, scale: int = 10**6
) -> str:
    parts = _ivf_train_ctes(k, iters, scale)
    parts[0] = "WITH " + parts[0]
    parts.append("q AS (SELECT * FROM assignF WHERE vec_id < 5)")
    parts.append(f"""scored AS (
  SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
         {_duck_cos("q.v", "s.v")} AS cosine
  FROM q JOIN assignF s ON q.cluster = s.cluster AND q.vec_id <> s.vec_id
)""")
    return (
        ",\n".join(parts)
        + """
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
) WHERE rank <= 3
"""
    )


def ivf_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once IVF codebook: the deterministic `kmeans_codebook`
    output for ``sf_dir``'s embeddings, a tiny committed fixture under
    ``fixtures/ivf_codebook/`` — the offline-training posture the IVF
    docstring prescribes (at 100 TB the codebook is a build artifact,
    not per-query work). Loading equals retraining (guarded by a pytest
    and, end-to-end, by the query's oracle, whose SQL retrains from
    scratch)."""
    return _build_fixture(
        spark, sf_dir, "ivf_codebook",
        lambda: S.kmeans_codebook(
            load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            k=8, iters=2,
        ),
    )


@_q("ann_topk_ivf", _ivf_kmeans_oracle())
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # The codebook comes from the committed train-once fixture
    # (ivf_codebook) — the query path is Arrow-kernel cell assignment +
    # probe-one-cell only, zero training shuffles; the oracle still
    # retrains in SQL, so a stale fixture hash-mismatches immediately.
    return S.ivf_topk(
        emb, queries, "vec_id", "embedding", n_centroids=8, k=3,
        centroids=ivf_codebook(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Corpus-trained bigram-LM quality scoring (CCNet-style): Laplace-
# smoothed bigram likelihoods, averaged per document via the scaled-
# integer-sum trick (see operators/text.bigram_likelihood for why the
# signal stays in likelihood space instead of log space).
# ---------------------------------------------------------------------------

_LM_QUALITY_ORACLE = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws)), i -> ws[i]))     AS w1,
         unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
  FROM toks
),
bgc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)),
scored AS (
  SELECT bg.doc_id,
         CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS p
  FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(ROUND(p * 1000000) AS BIGINT)) AS DOUBLE)
         / (1000000.0 * COUNT(*))                   AS avg_bigram_likelihood,
       MIN(ROUND(p, 9))                             AS min_bigram_likelihood
FROM scored GROUP BY doc_id
"""


@_q("lm_quality", _LM_QUALITY_ORACLE)
def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.bigram_likelihood(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Span-level (paragraph) boilerplate dedup: spans repeated across >1
# distinct documents are cut from every document, which is then
# reassembled in original span order. Testdata has no paragraph
# separators, so spans are fixed 3-token chunks (the operator takes any
# pre-split spans array — real corpora pass split(text, '\n\n')).
# ---------------------------------------------------------------------------

_SPAN_N = 3

_SPAN_DEDUP_ORACLE = f"""
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents),
spans AS (
  SELECT doc_id,
         unnest(range(0, (len(ws) - 1) // {_SPAN_N} + 1)) AS pos,
         unnest(list_transform(range(0, (len(ws) - 1) // {_SPAN_N} + 1),
                i -> array_to_string(
                  ws[i * {_SPAN_N} + 1 : i * {_SPAN_N} + {_SPAN_N}], ' ')))
           AS span
  FROM toks
),
freq AS (SELECT span, COUNT(DISTINCT doc_id) AS dfreq FROM spans GROUP BY 1),
flagged AS (
  SELECT doc_id, pos, span, dfreq <= 1 AS keep
  FROM spans JOIN freq USING (span)
)
SELECT doc_id,
       COALESCE(array_to_string(
         list(span ORDER BY pos) FILTER (WHERE keep), ' '), '')
                                                    AS clean_text,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                                                    AS n_spans_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                                                    AS n_spans_removed
FROM flagged GROUP BY doc_id
"""


@_q("span_dedup", _SPAN_DEDUP_ORACLE)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # spread the raw docs BEFORE the span-construction projection so
    # the one persisted evaluation inside dedup_spans runs at cluster
    # width (guide §2.5; the testdata scan is one task)
    from ..operators.sampling import spread

    chunked = spread(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.split(F.col("text"), " ").alias("ws"),
    ).select("doc_id", TX.token_chunks("ws", _SPAN_N).alias("spans"))
    return TX.dedup_spans(chunked, "doc_id", "spans", max_doc_freq=1)


# ---------------------------------------------------------------------------
# Rolling-hash fingerprint (winnowing-style k-min sketch over character
# 5-grams) — edit-tolerant document identity.
# ---------------------------------------------------------------------------

@_q(
    "rolling_fingerprint",
    """
SELECT
  doc_id,
  md5(array_to_string(
    list_sort(list_transform(
      range(1, greatest(length(text) - 4, 1) + 1),
      i -> md5(substr(text, i, 5))
    ))[1:4], ''
  )) AS roll_fp
FROM documents
""",
)
def rolling_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.rolling_fingerprint("text").alias("roll_fp")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster formation — connected components over the exact-
# Jaccard pair graph (threshold 0.5, same pairs as dedup_jaccard).
# Spark side: iterative hash-min + pointer-jump label propagation
# (operators/dedup.connected_components). Oracle: recursive-CTE
# transitive closure (exact, fine at oracle scale).
# ---------------------------------------------------------------------------

@_q(
    "dedup_clusters",
    f"""
WITH RECURSIVE
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT component, COUNT(*) AS n_docs FROM (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
)
GROUP BY component
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=3)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    return cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# Leakage-free eval split — the unit of correlation is the NEAR-DUP
# CLUSTER, not the document: a row-level split puts near-identical
# documents on both sides of train/eval and inflates held-out scores.
# Composition showcase: jaccard pairs → connected components →
# grouped_split keyed on the component (singletons = own doc_id).
# ---------------------------------------------------------------------------

def _leakage_free_split_oracle() -> str:
    from ..operators.sampling import grouped_split_edges, oracle_bucket_sql

    lo, hi = grouped_split_edges()
    bucket = oracle_bucket_sql("component")
    return f"""
WITH RECURSIVE
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a),
assign AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, component,
       CASE WHEN {bucket} < {lo} THEN 'train'
            WHEN {bucket} < {hi} THEN 'val'
            ELSE 'test' END AS split
FROM assign
ORDER BY doc_id
"""


@_q("leakage_free_split", _leakage_free_split_oracle())
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level train/val/test split: every member of a near-dup
    cluster lands in the SAME split (component = the correlation
    unit; `sampling.grouped_split`'s domain argument generalized to
    the dedup graph). Plan: the PREFIX-FILTERED jaccard kernel —
    LOSSLESS for the same threshold, so the oracle's plain all-shingle
    formulation still hash-matches; chosen because real 100 TB corpora
    are boilerplate-heavy and corpus-common shingles are exactly the
    join keys the plain kernel explodes on (on the synthetic fixture,
    which has little cross-doc boilerplate, the two spellings measure
    equal at 10x: 256 vs 270 s) → hash-min/pointer-jump components →
    left join back to the corpus (singletons default to their own id)
    → pure-projection md5-bucket assignment. Rehearsal note (r10
    measured): the 10x fixture's ~21x wall is PAIR DENSITY, not the
    engine — each original's 10 suffix-tagged replicas are an
    11-clique, so true jaccard-≥0.5 pairs grow 256 → 250,600 (~1000x)
    and components cover all 50k docs; 21x wall for ~1000x pairs is
    sublinear in the workload."""
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs_prefix(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3
    )
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    assign = (
        docs.select("doc_id")
        .join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
        )
    )
    return SA.grouped_split(assign, "component").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Exact stratified split (operators/sampling.stratified_exact_split) —
# frozen-snapshot eval construction: exactly floor(n_g·w/W) rows per
# (stratum, split), integer boundaries, md5 within-stratum order. The
# hash splits stay the growing-corpus tool (documented trade).
# ---------------------------------------------------------------------------

_STRAT_SPLIT_ORACLE = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('split:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN rk <= (n * 8) // 10 THEN 'train'
            WHEN rk <= (n * 9) // 10 THEN 'val'
            ELSE 'test' END AS split
FROM r ORDER BY doc_id
"""


@_q("stratified_split_exact", _STRAT_SPLIT_ORACLE)
def stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 80/10/10 per source (`sampling.stratified_exact_split`):
    one stratum exchange carrying both the rank window and the
    stratum count; boundaries by bigint `div` (never float). Use for
    frozen snapshots — growth reshuffles within a stratum, which is
    the documented trade against the stable hash splits."""
    from ..operators.sampling import stratified_exact_split

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_exact_split(docs, "source", "doc_id").orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# The actionable output of text dedup: the KEEP SET. Every document
# survives except non-representative members of a near-dup cluster
# (min id keeps) — one anti-join of the corpus against the drop set,
# which is the exact frame a pipeline feeds to the next stage. Mirrors
# `embedding_dedup_clusters` for the text path.
# ---------------------------------------------------------------------------

@_q(
    "text_dedup_keep_set",
    f"""
WITH RECURSIVE
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
drops AS (
  SELECT node FROM (
    SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
  ) WHERE node <> component
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT node FROM drops)
""",
)
def text_dedup_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=3)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    drops = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split + hash sampling — stable-in-the-key
# md5 bucketing (operators/sampling.py): identical assignment in any
# engine, no RAND(), no shuffle, filter pushes down to the scan.
# ---------------------------------------------------------------------------

from ..operators import sampling as SP  # noqa: E402

_BUCKET_SQL = SP.oracle_bucket_sql("doc_id")

@_q(
    "deterministic_split",
    f"""
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars
FROM (
  SELECT text,
         CASE WHEN {_BUCKET_SQL} < 205 THEN 'train'
              WHEN {_BUCKET_SQL} < 231 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
""",
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        SP.deterministic_split(docs, "doc_id", train=0.8, val=0.1)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


@_q(
    "hash_sample",
    f"""
SELECT doc_id, lang FROM documents WHERE {_BUCKET_SQL} < 26
""",
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return SP.hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Text normalization (training-data cleaning) — operators/text.clean_text.
# Per-row projection only; the oracle spells the identical lower →
# strip-symbols → collapse-spaces → trim → empty-is-NULL chain.
# ---------------------------------------------------------------------------

@_q(
    "text_clean",
    """
SELECT
  doc_id,
  NULLIF(trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '') AS clean_text,
  length(NULLIF(trim(regexp_replace(regexp_replace(lower(text),
    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '')) AS clean_chars
FROM documents
""",
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cleaned = TX.clean_text("text")
    return docs.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(cleaned).cast("long").alias("clean_chars"),
    )


# ---------------------------------------------------------------------------
# Stratified cap sampling (source balancing) —
# operators/sampling.stratified_cap_sample: per-group counts aggregated
# then BROADCAST back (the oracle's window COUNT(*) OVER is the
# semantic twin, but the engine never pays a full-data shuffle for it);
# keep-decision is the shared md5 bucket, so membership is stable
# across runs, engines, and partitioning.
# ---------------------------------------------------------------------------

def _stratified_oracle(cap: float = 13.0) -> str:
    bucket = SP.oracle_bucket_sql("doc_id")
    return f"""
WITH sized AS (
  SELECT doc_id, source, lang,
         COUNT(*) OVER (PARTITION BY source) AS __n
  FROM documents
)
SELECT doc_id, source, lang
FROM sized
WHERE {bucket} < CAST(floor(least(1.0, {cap} / __n) * 256) AS BIGINT)
"""


@_q("stratified_sample", _stratified_oracle())
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return SP.stratified_cap_sample(
        docs, key="doc_id", group="source", cap=13.0
    ).select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# End-to-end corpus preparation — the LLM-data flagship: canonical
# cleaning → token/quality filter → exact dedup (min-id representative)
# → deterministic split → per-(split, lang) accounting. One pipeline of
# the catalog's own operators, verified as a single nested-SQL oracle.
# Plan shape: projection → one dedup shuffle (on the 128-bit
# fingerprint, never the text) → broadcast-free hash agg; the split is
# a per-row projection so it adds nothing to the shuffle budget.
# ---------------------------------------------------------------------------

def _corpus_prep_oracle() -> str:
    bucket = SP.oracle_bucket_sql("k.doc_id")
    clean = ("NULLIF(trim(regexp_replace(regexp_replace(lower(text), "
             "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), '')")
    return f"""
WITH cleaned AS (
  SELECT doc_id, lang, {clean} AS clean_text
  FROM documents
),
scored AS (
  SELECT doc_id, lang, clean_text,
         CAST(len(str_split(clean_text, ' ')) AS BIGINT) AS n_tokens
  FROM cleaned
  WHERE clean_text IS NOT NULL
),
kept AS (
  SELECT * FROM scored WHERE n_tokens >= 5
),
dedup AS (
  SELECT md5(clean_text) AS fp, min(doc_id) AS doc_id
  FROM kept GROUP BY 1
),
final AS (
  SELECT k.doc_id, k.lang, k.n_tokens,
         CASE WHEN {bucket} < 205 THEN 'train'
              WHEN {bucket} < 231 THEN 'val'
              ELSE 'test' END AS split
  FROM kept k JOIN dedup d ON k.doc_id = d.doc_id
)
SELECT split, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM final
GROUP BY split, lang
"""


@_q("corpus_prep", _corpus_prep_oracle())
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    cleaned = docs.select(
        "doc_id", "lang", TX.clean_text("text").alias("clean_text")
    ).filter(F.col("clean_text").isNotNull())
    kept = cleaned.withColumn(
        "n_tokens", TX.token_count("clean_text")
    ).filter(F.col("n_tokens") >= 5)
    # min-id representative via a window over the fingerprint — ONE pass
    # and one shuffle. The groupBy-min + semi-join formulation is the
    # same relation but evaluates the cleaning chain once per branch
    # (Catalyst recomputes a frame feeding two branches) and pays the
    # join: measured ~35% slower at sf0.1 for identical results.
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("clean_text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    split = SP.deterministic_split(deduped, "doc_id", train=0.8, val=0.1)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap against an eval set
# (GPT-3 appendix C / Llama recipe: any shared n-gram marks the doc).
# Benchmark = the src0 slice; its distinct shingles are broadcast, so
# the 100 TB corpus side never shuffles its shingles.
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT doc_id, source, unnest(list_distinct(
    list_transform(range(1, len(t) - 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  )) AS shingle
  FROM toks WHERE len(t) >= 3
),
bsh AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
hits AS (
  SELECT s.doc_id,
         COUNT(*)        AS n_shingles,
         COUNT(b.shingle) AS n_hits
  FROM sh s LEFT JOIN bsh b USING (shingle)
  WHERE s.source <> 'src0'
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_hits,
       CAST(n_hits AS DOUBLE) / n_shingles AS hit_ratio
FROM hits
WHERE n_hits >= 1
"""


@_q("decontaminate", _DECONTAM_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    return D.contamination(corpus, benchmark, "doc_id", "text", n=3, min_hits=1)


# Span-level exact-substring decontamination (dedup.contamination_spans,
# verdict r09 item 8): WHICH token spans reproduce benchmark text.
# Oracle = the same sliding-gram slide in SQL + gaps-and-islands span
# merge (equal-length intervals merge iff next_start <= prev_start + w,
# exactly the in-row fold's rule).
_DECONTAM_SPANS_W = 8


def _decontam_spans_oracle(w: int = _DECONTAM_SPANS_W) -> str:
    gh = f"md5(array_to_string(t[i:i + {w} - 1], ' '))"
    return f"""
WITH toks AS (
  SELECT doc_id, source, str_split(text, ' ') AS t FROM documents
),
cg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t) - {w} + 2),
           i -> {{'s': i - 1, 'gh': {gh}}})) AS g
  FROM toks WHERE source <> 'src0' AND len(t) >= {w}
),
cgrams AS (SELECT doc_id, g.s AS start, g.gh AS gh FROM cg),
bgh AS (
  SELECT DISTINCT unnest(list_transform(range(1, len(t) - {w} + 2),
           i -> {gh})) AS gh
  FROM toks WHERE source = 'src0' AND len(t) >= {w}
),
flagged AS (SELECT doc_id, start FROM cgrams JOIN bgh USING (gh)),
isl AS (
  SELECT doc_id, start,
         CASE WHEN start - lag(start) OVER (
           PARTITION BY doc_id ORDER BY start
         ) <= {w} THEN 0 ELSE 1 END AS brk
  FROM flagged
),
grp AS (
  SELECT doc_id, start,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY start) AS gid
  FROM isl
),
sp AS (
  SELECT doc_id, MIN(start) AS s, MAX(start) + {w} AS e
  FROM grp GROUP BY doc_id, gid
)
SELECT sp.doc_id,
       CAST(s AS BIGINT)     AS span_start,
       CAST(e AS BIGINT)     AS span_end,
       CAST(e - s AS BIGINT) AS span_tokens,
       array_to_string(t[s + 1:e], ' ') AS span_text
FROM sp JOIN toks ON sp.doc_id = toks.doc_id
ORDER BY sp.doc_id, span_start
"""


@_q("decontaminate_spans", _decontam_spans_oracle())
def decontaminate_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grain decontamination report: every maximal token span of
    a training document (sources ≠ src0) that literally reproduces
    ≥ {w} consecutive benchmark tokens (src0), with exact boundaries
    and the leaked text. Plan (`dedup.contamination_spans`): benchmark
    gram hashes distinct'd and broadcast → corpus gram slide is a
    MAP-ONLY probe (zero gram-hash shuffles, vs exact_substring_dedup's
    corpus-vs-corpus count) → one doc-grain agg + one doc-grain join
    back to token arrays. Raw text / token grains never shuffle."""
    docs = load(spark, sf_dir, "documents")
    return D.contamination_spans(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        window=_DECONTAM_SPANS_W,
    ).orderBy("doc_id", "span_start")


def _contam_report_oracle() -> str:
    # pure composition over the span oracle (the cross_source_dup
    # pattern: reuse the committed SQL verbatim as a subquery)
    return f"""
WITH sp2 AS ({_decontam_spans_oracle()}),
per_doc AS (
  SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS leaked
  FROM sp2 GROUP BY doc_id
),
corpus AS (
  SELECT doc_id, source, len(str_split(text, ' ')) AS ntok
  FROM documents WHERE source <> 'src0'
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN leaked IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_contaminated,
       CAST(SUM(COALESCE(leaked, 0)) AS BIGINT) AS leaked_tokens,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       CAST(SUM(COALESCE(leaked, 0)) AS DOUBLE)
         / CAST(SUM(ntok) AS BIGINT) AS leaked_share
FROM corpus LEFT JOIN per_doc USING (doc_id)
GROUP BY source
ORDER BY source
"""


@_q("contamination_report", _contam_report_oracle())
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source benchmark-leakage report — the aggregate a curation
    pipeline acts on (quarantine or re-clean the sources whose
    leaked-token share is high): contaminated docs, leaked tokens, and
    leaked share per source, from the span-grain decontamination
    (`dedup.contamination_spans`). Plan: the span query's map-only
    broadcast probe → doc-grain leaked sums → one left join onto the
    per-doc token counts → source hash agg (20 rows). The share is
    one double division of two exact BIGINT sums."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    spans = D.contamination_spans(
        corpus,
        docs.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        window=_DECONTAM_SPANS_W,
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").cast("long").alias("leaked")
    )
    base = corpus.select(
        "doc_id",
        "source",
        F.size(D.tokens_col("text")).cast("long").alias("ntok"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("leaked").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_contaminated"),
            F.sum(F.coalesce(F.col("leaked"), F.lit(0)))
            .cast("long")
            .alias("leaked_tokens"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            (
                F.sum(F.coalesce(F.col("leaked"), F.lit(0))).cast(
                    "double"
                )
                / F.sum("ntok").cast("long")
            ).alias("leaked_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing — concat-then-chunk token budgeting per source
# stream (one window cumsum = one shuffle on source; no global sort).
# ---------------------------------------------------------------------------

_PACKING_ORACLE = """
WITH d AS (
  SELECT source, doc_id, len(str_split(text, ' ')) AS tok FROM documents
),
p AS (
  SELECT source AS pack_group,
         CAST(FLOOR(COALESCE(SUM(tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) / 512) AS BIGINT) AS pack_id,
         tok
  FROM d
)
SELECT pack_group, pack_id, COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens
FROM p GROUP BY 1, 2
"""


@_q("sequence_packing", _PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    tok = F.size(F.split(F.col("text"), " ")).cast("long")
    return SA.sequence_packs(docs, "source", "doc_id", tok, cap=512)


# ---------------------------------------------------------------------------
# TF-IDF top terms per document — characteristic-term extraction for
# corpus exploration / topic tagging. IDF is the exact integer ratio
# n_docs/df (no libm ln — see operators/text.tfidf_top_terms).
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC, term
         ) AS rn
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, score FROM scored WHERE rn <= 3
"""


@_q("tfidf_top_terms", _TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.tfidf_top_terms(docs, "doc_id", "text", k=3)


# ---------------------------------------------------------------------------
# Repetition / quality signals (Gopher-style web-corpus filters) —
# operators/text.repetition_stats. Pure projection; arrays staged as
# attributes so CollapseProject never re-expands the tokenizer.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS tk, len(str_split(text, ' ')) AS n
  FROM documents
), g AS (
  SELECT doc_id, tk, n,
    len(list_filter(range(1, n), i -> tk[i] = tk[i+1])) AS consec,
    list_transform(range(1, n), i -> tk[i] || ' ' || tk[i+1]) AS grams
  FROM t
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  CASE WHEN n >= 2 THEN CAST(consec AS DOUBLE) / (n - 1) ELSE 0.0 END
    AS consec_repeat_ratio,
  CASE WHEN n >= 2 THEN
    CAST(list_max(list_transform(list_distinct(grams),
      d -> len(list_filter(grams, x -> x = d)))) AS DOUBLE) / (n - 1)
  ELSE 0.0 END AS top_bigram_ratio,
  CAST(len(list_distinct(tk)) AS DOUBLE) / n AS distinct_token_ratio
FROM g
"""


@_q("repetition_stats", _REPETITION_ORACLE)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.repetition_stats(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# PII redaction — operators/text.redact_pii. The corpus has no real PII,
# so both engines deterministically inject a synthetic email/phone/IP on
# even doc_ids (the odd rows exercise the zero-redaction path), then
# redact and count. Patterns live in text.PII_PATTERNS (RE2 ∩ Java
# dialect) and this oracle is generated from the SAME constants.
# ---------------------------------------------------------------------------

def _pii_oracle() -> str:
    redacted = "pii"
    for _, pat, repl in TX.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(pii, '{pat}')) AS BIGINT) AS n_{name}s"
        for name, pat, _ in TX.PII_PATTERNS
    )
    return f"""
WITH p AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      text || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com call 555-'
           || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
           || CAST(doc_id % 9000 + 1000 AS VARCHAR)
           || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
    ELSE text END AS pii
  FROM documents
)
SELECT doc_id,
  {redacted} AS redacted,
  {counts}
FROM p
"""


@_q("pii_redact", _pii_oracle())
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com call 555-"),
        (did % 900 + 100).cast("string"),
        F.lit("-"),
        (did % 9000 + 1000).cast("string"),
        F.lit(" ip 10.0."),
        (did % 256).cast("string"),
        F.lit(".1"),
    )
    pii = docs.select(
        "doc_id",
        F.when(did % 2 == 0, injected).otherwise(F.col("text")).alias("pii"),
    )
    return pii.select(
        "doc_id",
        TX.redact_pii("pii").alias("redacted"),
        *TX.pii_counts("pii"),
    )


# ---------------------------------------------------------------------------
# Data-mixture resampling — operators/sampling.mixture_sample. Target
# pretraining mix over sources; per-group edges broadcast back, data
# path shuffle-free. Oracle generated from the SAME weights constant.
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {
    "src0": 0.30, "src1": 0.18, "src2": 0.12, "src3": 0.10, "src5": 0.08,
    "src7": 0.07, "src10": 0.06, "src12": 0.05, "src15": 0.03, "src17": 0.01,
}
_MIX_TOTAL = 400.0


def _mixture_oracle() -> str:
    vals = ", ".join(
        f"('{g}', CAST({w} AS DOUBLE))"
        for g, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(source, wt) AS (SELECT * FROM (VALUES {vals})),
c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
e AS (
  SELECT c.source,
         CAST(floor(least(1.0, ({_MIX_TOTAL} * wt) / n) * 256) AS BIGINT)
           AS edge
  FROM c JOIN w ON c.source = w.source
)
SELECT d.doc_id, d.source
FROM documents d JOIN e ON d.source = e.source
WHERE {_BUCKET_SQL} < e.edge
"""


@_q("mixture_sample", _mixture_oracle())
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return SP.mixture_sample(
        docs, "doc_id", "source", _MIX_WEIGHTS, _MIX_TOTAL
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Compression-ratio redundancy signal. zlib is deterministic but not
# SQL-expressible, so the emitted row carries the PORTABLE contract:
# raw UTF-8 bytes (Python len(bytes) ≡ octet_length(encode())), the
# type-token redundancy ratio both engines compute from the shared
# whitespace split (exact IEEE division of two exact ints — identical
# doubles, no rounding needed, same policy as text_stats), and
# `deflate_bounded` = compressed ∈ (0, raw + raw div 1000 + 64] — the
# zlib worst-case expansion bound (stored-block overhead ≤ 5 bytes per
# 16 KiB + 2-byte header + 4-byte adler), so the boolean proves the
# mapInPandas zlib path actually ran and produced a sane size while the
# oracle emits literal TRUE. Value-level zlib coverage (exact byte
# counts vs hand-computed zlib) stays in pytest (test_quality.py).
# ---------------------------------------------------------------------------


@_q(
    "compression_signals",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
       CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
         / len(str_split(text, ' ')) AS type_token_ratio,
       TRUE AS deflate_bounded
FROM documents
""",
)
def compression_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sig = TX.compression_signals(docs)
    ttr = docs.select(
        "doc_id",
        (
            F.size(F.array_distinct(TX.tokens_col("text"))).cast("double")
            / F.size(TX.tokens_col("text"))
        ).alias("type_token_ratio"),
    )
    return sig.join(ttr, "doc_id").select(
        "doc_id",
        "raw_bytes",
        "type_token_ratio",
        (
            (F.col("compressed_bytes") > 0)
            & (
                F.col("compressed_bytes")
                <= F.col("raw_bytes")
                + F.expr("raw_bytes div 1000")
                + F.lit(64)
            )
        ).alias("deflate_bounded"),
    )


# ---------------------------------------------------------------------------
# Winsorization: per-event-type [p01, p99] clipping; the percentile
# bounds use the same continuous-interpolation formula as DuckDB's
# quantile_cont (parity established by the `percentiles` query), and
# the clip itself is exact comparisons.
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, b.lo), b.hi) AS value_clipped
FROM events e JOIN b USING (event_type)
"""


@_q("winsorize_events", _WINSOR_ORACLE)
def winsorize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return SA.winsorize(ev, "value", keys=["event_type"])


# ---------------------------------------------------------------------------
# Prefix-filtered Jaccard join (AllPairs/PPJoin family): same answer as
# dedup_jaccard — the oracle IS the plain all-shingle formulation, so
# a hash match proves the prefix candidate generation is lossless.
# ---------------------------------------------------------------------------


@_q("dedup_jaccard_prefix", ORACLES["dedup_jaccard"])
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.jaccard_pairs_prefix(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3
    )


# ---------------------------------------------------------------------------
# Mixture concentration: per-source language dominance (HHI / Gini
# impurity / top share) — exact-int ratios, no libm entropy.
# ---------------------------------------------------------------------------


@_q(
    "mixture_concentration",
    """
WITH c AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
)
-- Σn² accumulates EXACTLY (HUGEINT here, DECIMAL(38,0) in the
-- operator) with one rounding at the final cast-to-double, so the
-- IEEE division is bit-identical across engines and order-independent
-- at every scale — a DOUBLE accumulator drifts past 2^53
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_categories,
       CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE)
         / CAST(CAST(SUM(n) AS HUGEINT) * CAST(SUM(n) AS HUGEINT)
                AS DOUBLE) AS hhi,
       1 - CAST(SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS DOUBLE)
         / CAST(CAST(SUM(n) AS HUGEINT) * CAST(SUM(n) AS HUGEINT)
                AS DOUBLE) AS gini_impurity,
       CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS top_share
FROM c GROUP BY 1
""",
)
def mixture_concentration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    return SA.mixture_concentration(docs, "source", "lang")


# ---------------------------------------------------------------------------
# Deterministic training-order shuffle (operators/sampling.
# training_shuffle): (bucket, pos) is a reproducible uniform permutation
# — the pre-shard global shuffle without RAND() or a single-partition
# sort. Oracle spells the identical salted-md5 bucket + window rank.
# ---------------------------------------------------------------------------

_SHUF_BUCKET = SP.oracle_bucket_sql("'shuffle:' || CAST(doc_id AS VARCHAR)")
# oracle_bucket_sql hashes CAST(key AS VARCHAR); feeding it the salted
# string directly reproduces md5('shuffle:' || key)


@_q(
    "training_shuffle_order",
    f"""
SELECT doc_id,
       CAST({_SHUF_BUCKET} AS BIGINT) AS shuffle_bucket,
       CAST(row_number() OVER (
         PARTITION BY {_SHUF_BUCKET}
         ORDER BY md5('shuffle:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS bucket_pos
FROM documents
""",
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return SP.training_shuffle(docs, "doc_id").select(
        "doc_id", "shuffle_bucket", "bucket_pos"
    )


# ---------------------------------------------------------------------------
# Corpus-wide boilerplate n-grams: top doc-frequency word 3-grams — the
# diagnostic behind span_dedup's frequency cut (which shared spans are
# polluting the corpus, and how widely). Aggregate on the shingle, then
# a bounded top-k (TakeOrderedAndProject — never a global sort of the
# full n-gram table); (doc_freq DESC, shingle ASC) is a total order, so
# the cut is deterministic on both engines.
# ---------------------------------------------------------------------------

@_q(
    "boilerplate_ngrams",
    f"""
WITH sh AS ({_DUCK_SHINGLES})
SELECT shingle, COUNT(*) AS doc_freq
FROM sh GROUP BY 1
ORDER BY doc_freq DESC, shingle ASC
LIMIT 20
""",
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Exact corpus heavy hitters without a full-stream shuffle: every token
# whose frequency strictly exceeds n/200, found by per-partition
# Misra-Gries candidates (mapInPandas, ≤199 candidate rows per
# partition ever shuffle) + a broadcast-semi-join exact recount. The
# candidate pass is approximate but provably complete, so the filtered
# recount is EXACT and partitioning-independent — hence the plain
# GROUP BY … HAVING oracle. The 100 TB shape for hot-token / hot-domain
# / hot-key diagnosis where groupBy-the-stream is the bottleneck
# (operators/heavy.py module docstring has the two-pass cost model).
# ---------------------------------------------------------------------------

@_q(
    "heavy_hitter_tokens",
    """
WITH toks AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
     tot AS (SELECT COUNT(*) AS n FROM toks)
SELECT token, COUNT(*) AS freq
FROM toks, tot
GROUP BY token, n
HAVING COUNT(*) * 200 > n
ORDER BY freq DESC, token ASC
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import heavy as H

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(D.tokens_col("text")).alias("token")
    )
    return H.heavy_hitters(toks, "token", 200, out_item="token").orderBy(
        F.desc("freq"), F.asc("token")
    )


# ---------------------------------------------------------------------------
# Per-source data audit: the report a mixture owner reads before
# weighting sources — volume, token budget, quality rate, exact-dup
# rate, language spread. One scan + one hash aggregate; ratios are
# exact-int divisions.
# ---------------------------------------------------------------------------

@_q(
    "source_quality_report",
    f"""
WITH d AS (
  SELECT source, lang,
         len(str_split(text, ' ')) AS n_tok,
         CASE WHEN len(str_split(text, ' ')) >= 20
               AND len(str_split(text, ' ')) <= 95
               AND CAST(len(list_filter(str_split(text, ' '),
                     w -> w IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(str_split(text, ' ')) < 0.5
               AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len(str_split(text, ' ')) >= 2.0
              THEN 1 ELSE 0 END AS is_q,
         md5(text) AS fp
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                          AS n_docs,
       CAST(SUM(n_tok) AS BIGINT)                        AS total_tokens,
       CAST(SUM(is_q) AS DOUBLE) / COUNT(*)              AS quality_rate,
       CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT)     AS n_exact_dups,
       CAST(COUNT(DISTINCT lang) AS BIGINT)              AS n_langs
FROM d GROUP BY 1
""",
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level aggregation: reduce to (source, lang, fp) grain first —
    # map-side partials shrink the corpus to near-distinct size before
    # any distinct accounting, so the two COUNT(DISTINCT)s (fp, lang)
    # and their Expand run over the reduced frame, never over every
    # document (at 100 TB a direct dual-distinct Expand triples the
    # full scan's shuffle volume). Same relation, same results.
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        "lang",
        TX.token_count("text").alias("n_tok"),
        TX.quality_score("text").alias("is_q"),
        F.md5("text").alias("fp"),
    )
    grain = per_doc.groupBy("source", "lang", "fp").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_tok").alias("__tok"),
        F.sum("is_q").alias("__q"),
    )
    return grain.groupBy("source").agg(
        F.sum("__n").cast("long").alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
        (F.sum("__q").cast("double") / F.sum("__n")).alias("quality_rate"),
        (F.sum("__n") - F.count_distinct("fp")).cast("long").alias(
            "n_exact_dups"
        ),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Label-centroid quality over the labeled embedding set (operators/
# similarity.label_centroid_quality): per-label cohesion screening for
# label noise. Centroids use the kmeans-style scaled-integer means, so
# the oracle replicates them exactly.
# ---------------------------------------------------------------------------

@_q(
    "label_centroid_quality",
    """
WITH c AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cent AS (
  SELECT label, list(cval ORDER BY pos) AS cv FROM (
    SELECT label, pos,
           CAST(SUM(CAST(ROUND(val * 1000000) AS BIGINT)) AS DOUBLE)
             / (1000000.0 * COUNT(*)) AS cval
    FROM (SELECT label, unnest(range(1, len(v) + 1)) AS pos,
                 unnest(v) AS val
          FROM c)
    GROUP BY label, pos
  ) GROUP BY label
),
scored AS (
  SELECT c.label,
         ROUND(
           list_dot_product(c.v, cent.cv)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(cent.cv, cent.cv))),
           6
         ) AS cos
  FROM c JOIN cent ON c.label = cent.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(ROUND(cos * 1000000) AS BIGINT)) AS DOUBLE)
         / (1000000.0 * COUNT(*)) AS mean_cos,
       MIN(cos) AS min_cos
FROM scored GROUP BY 1
""",
)
def label_centroid_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.label_centroid_quality(emb, "label", "embedding")


# ---------------------------------------------------------------------------
# Exact per-source quota sampling (operators/sampling.exact_cap_sample):
# keep exactly min(cap, n) docs per source under a deterministic md5
# draw — the exact-quota counterpart of the bucket-filter cap.
# ---------------------------------------------------------------------------

@_q(
    "exact_cap_sample",
    """
SELECT source, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
) WHERE rk <= 10
""",
)
def exact_cap_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    return SP.exact_cap_sample(docs, "doc_id", "source", 10)


# ---------------------------------------------------------------------------
# Video frame-sample plumbing (operators/multimodal.sample_frames): one
# media row fans out to n_frames frame rows via a mapInPandas generator
# — the shape a real ffmpeg sampler needs. The deterministic fake
# extractor (frame i = md5(content || str(i·every_n))) lets the oracle
# predict every frame byte-for-byte, so the full Arrow fan-out path is
# value-checked, not just row-counted. Frames surface as lowercase hex
# md5 (binary column representations differ between engines' fetch
# paths; the hex projection is the stable cross-engine identity).
# ---------------------------------------------------------------------------

@_q(
    "video_frame_sample",
    """
SELECT doc_id AS media_id,
       i AS frame_index,
       md5(text || CAST(i * 10 AS VARCHAR)) AS frame_md5
FROM documents, (SELECT unnest(range(0, 3)) AS i)
""",
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as MM

    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
    )
    frames = MM.sample_frames(media, every_n=10, n_frames=3)
    return frames.select(
        "media_id",
        F.col("frame_index").cast("long").alias("frame_index"),
        F.lower(F.hex("frame")).alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# Incremental corpus ingest — the daily-run composition at 100 TB: an
# incoming batch dedupes WITHIN itself (exact fingerprint, min-id
# representative) and AGAINST the already-ingested corpus (anti-join on
# the stored fingerprint frame — never on raw text, and never
# rescanning corpus text). Split is simulated by doc_id parity so the
# oracle can reproduce it. Shuffle cost: one md5 groupBy over the BATCH
# only + one anti-join against the fingerprint store.
# ---------------------------------------------------------------------------

@_q(
    "incremental_ingest",
    """
WITH ex AS (
  SELECT DISTINCT md5(text) AS fingerprint
  FROM documents WHERE doc_id % 2 = 0
),
batch AS (
  SELECT doc_id, md5(text) AS fingerprint
  FROM documents WHERE doc_id % 2 = 1
),
keep AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id, COUNT(*) AS n_batch_dups
  FROM batch GROUP BY fingerprint
)
SELECT k.doc_id, k.fingerprint, CAST(k.n_batch_dups AS BIGINT) AS n_batch_dups
FROM keep k
WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fingerprint = k.fingerprint)
ORDER BY k.doc_id
""",
)
def incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    groups = D.exact_dedup_groups(batch, "doc_id", "text")
    return (
        groups.select(
            F.col("keep_id").alias("doc_id"),
            "fingerprint",
            F.col("n_dups").alias("n_batch_dups"),
        )
        .join(corpus_fp, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint", "n_batch_dups")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Shard-export manifest — the contract a trainer verifies before
# streaming shards: per deterministic shard (48-bit md5 of doc_id mod
# 16) the row count, byte volume, and an order-independent BIT_XOR
# content checksum any reader can recompute shard-locally. One hash
# aggregate; `operators/export.export_shards` writes the matching
# shard=N/ directory layout (pytest round-trips it).
# ---------------------------------------------------------------------------

def _shard_manifest_oracle() -> str:
    from ..operators.export import hash48_sql

    return f"""
WITH s AS (
  SELECT {hash48_sql("doc_id")} % 16 AS shard,
         strlen(text) AS nb,
         {hash48_sql("text")} AS h
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(nb) AS BIGINT) AS total_bytes,
       CAST(bit_xor(h) AS BIGINT) AS checksum
FROM s GROUP BY shard ORDER BY shard
"""


@_q("shard_manifest", _shard_manifest_oracle())
def shard_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import export as EX

    docs = load(spark, sf_dir, "documents")
    return EX.shard_manifest(docs, "doc_id", "text", 16).orderBy("shard")


# ---------------------------------------------------------------------------
# ANALYZE-style table profile — per column its nulls / exact distincts
# / min / max, computed in ONE scan (side-by-side aggregate + stack
# unpivot; the oracle necessarily reads the table once per column).
# The profile that drives partition sizing and skew diagnosis before a
# big run. Note n_distinct over k columns Expands k-fold — at 100 TB
# run it on a hash_sample or swap in the HLL rollup (docstring).
# ---------------------------------------------------------------------------

def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM documents"""


@_q(
    "table_profile",
    " UNION ALL ".join(
        _profile_col_sql(c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
    + " ORDER BY column_name",
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import analyze_stats

    docs = load(spark, sf_dir, "documents")
    return analyze_stats(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Product quantization — compressed embedding codes + ADC search over
# codes only. Training/encode/search are integer-deterministic
# (scaled-dot argmax, scaled-int centroid means, integer ADC sums), so
# the oracle replicates the full recurrence relationally from shared
# constants (operators/pq.py generators). The 100 TB embedding-store
# recipe: ~m bytes per vector, search never touches raw vectors.
# ---------------------------------------------------------------------------

def _pq_oracles():
    from ..operators import pq as PQ

    return PQ.pq_codes_oracle_sql(), PQ.pq_adc_oracle_sql()


_PQ_CODES_SQL, _PQ_ADC_SQL = _pq_oracles()


def pq_codebook_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once PQ codebooks (same posture as `ivf_codebook`) —
    guarded end-to-end by both PQ oracles, whose SQL retrains from
    scratch."""
    from ..operators import pq as PQ

    return _build_fixture(
        spark, sf_dir, "pq_codebook",
        lambda: PQ.pq_codebooks(load(spark, sf_dir, "embeddings")),
    )


# Per-session plan memo for fixture reads (r13, the tables.load()
# pattern): spark.read.parquet re-infers the footer schema per call
# (~60-100 ms), and the ANN/semdedup queries read 1-2 fixtures per
# bench run. Plans only, never data; keyed on applicationId so a new
# session re-reads. A cold build writes the parquet and the read-back
# of the freshly-written file IS memoized (same immutable-fixture
# contract as a pre-committed file: fixtures are never rewritten at
# the same path within a session — regenerating one mid-session
# requires a new session or an explicit _FIXTURE_MEMO.clear()).
_FIXTURE_MEMO: dict[tuple[str, str], DataFrame] = {}


_FIXTURE_ROOT = Path(__file__).resolve().parents[2] / "fixtures"


def _store_fixture(
    spark, sf_dir: str, name: str, build, suffix: str = ""
) -> DataFrame:
    """Shared train-once fixture posture: a committed parquet store per
    SF at ``fixtures/<name>/<sf><suffix>``, built on the fly when absent
    by ``build(target)``, which writes the store at ``target``. Longs/
    strings and double parquet round-trips are bit-exact, so loading ≡
    rebuilding — and every consumer's oracle rebuilds from scratch in
    SQL, so a stale fixture hash-mismatches immediately.

    A build writes into a temporary sibling directory that is renamed
    into place only once complete: a build that fails part-way leaves
    nothing a later session could read as committed. A checkout whose
    fixture directory is not writable builds into a scratch directory
    instead. Reads are memoized per session (`_FIXTURE_MEMO`)."""
    fix_dir = _FIXTURE_ROOT / name
    path = fix_dir / f"{os.path.basename(os.path.normpath(sf_dir))}{suffix}"
    key = (spark.sparkContext.applicationId, str(path))
    hit = _FIXTURE_MEMO.get(key)
    if hit is not None:
        return hit
    if not path.exists():
        probe = fix_dir
        while not probe.exists():
            probe = probe.parent
        if os.access(probe, os.W_OK):
            fix_dir.mkdir(parents=True, exist_ok=True)
            tmp = Path(tempfile.mkdtemp(prefix=f".{path.name}.", dir=fix_dir))
            try:
                build(str(tmp / "store"))
                os.rename(tmp / "store", path)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        else:  # read-only checkout: scratch build
            path = Path(tempfile.mkdtemp(prefix=f"{name}_")) / "store"
            build(str(path))
    out = spark.read.parquet(str(path))
    _FIXTURE_MEMO[key] = out
    return out


def _build_fixture(spark, sf_dir: str, name: str, build) -> DataFrame:
    """`_store_fixture` for a frame that ``build()`` returns: stored as
    one coalesced parquet at ``fixtures/<name>/<sf>.parquet``."""
    return _store_fixture(
        spark, sf_dir, name,
        lambda target: build().coalesce(1).write.parquet(target),
        ".parquet",
    )


def pq_codes_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once PQ code table (vid, code) — at 100 TB the encoded
    corpus is the stored index, not per-query work; re-encoding every
    search is exactly the rehearsal-measured 6.2×/10× trap the r08
    verdict flagged. Built from the committed codebook fixture."""
    from ..operators import pq as PQ

    return _build_fixture(
        spark, sf_dir, "pq_codes",
        lambda: PQ.pq_encode(
            load(spark, sf_dir, "embeddings"),
            pq_codebook_fixture(spark, sf_dir),
        ),
    )


def ivf_cells_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once IVF routing table (vec_id, cluster) — the corpus
    side of the IVF index is a build artifact exactly like the
    codebook; only QUERY vectors are assigned at search time."""
    return _build_fixture(
        spark, sf_dir, "ivf_cells",
        lambda: S.assign_clusters(
            load(spark, sf_dir, "embeddings"),
            ivf_codebook(spark, sf_dir), "vec_id", "embedding",
        ).select("vec_id", "cluster"),
    )


@_q("pq_codes", _PQ_CODES_SQL)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebook_fixture(spark, sf_dir)
    # one shuffle-free Arrow map pass, checked end-to-end by this
    # query's oracle, which re-encodes in SQL
    return (
        PQ.pq_encode(emb, cb)
        .select(F.col("vid").alias("vec_id"), "code")
        .orderBy("vec_id")
    )


@_q("pq_adc_topk", _PQ_ADC_SQL)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_codebook_fixture(spark, sf_dir)
    # the ADC scoring side is |Q|-sized and stays in expressions
    codes = PQ.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 5)
    return PQ.pq_adc_topk(queries, codes, cb).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Inverted text index — posting lists (token → sorted (doc, tf)) as one
# explode + two hash aggregates, and conjunctive search as posting-list
# intersection (raw text never touched at query time). Postings
# serialize "doc:tf,…" for the cross-engine hash compare; df_count ≥ 5
# trims the long singleton tail out of the declared result (the build
# itself is full-vocabulary).
# ---------------------------------------------------------------------------

_IDX_PAIRS_SQL = """
  SELECT token, doc_id AS doc, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents)
  GROUP BY token, doc_id
"""


@_q(
    "inverted_index",
    f"""
WITH pairs AS ({_IDX_PAIRS_SQL})
SELECT token, CAST(COUNT(*) AS BIGINT) AS df_count,
       string_agg(doc || ':' || tf, ',' ORDER BY doc) AS postings
FROM pairs GROUP BY token HAVING COUNT(*) >= 5 ORDER BY token
""",
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    idx = TX.build_inverted_index(docs, "doc_id", "text")
    return (
        idx.filter(F.col("df_count") >= 5)
        .select(
            "token",
            "df_count",
            F.array_join(
                F.transform(
                    F.col("postings"),
                    lambda p: F.concat_ws(
                        ":",
                        p.getField("doc").cast("string"),
                        p.getField("tf").cast("string"),
                    ),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy("token")
    )


@_q(
    "search_and_terms",
    f"""
WITH pairs AS ({_IDX_PAIRS_SQL}),
a AS (SELECT doc, tf FROM pairs WHERE token = 'hash'),
b AS (SELECT doc, tf FROM pairs WHERE token = 'join')
SELECT a.doc, CAST(a.tf + b.tf AS BIGINT) AS score
FROM a JOIN b ON a.doc = b.doc
ORDER BY score DESC, a.doc
""",
)
def search_and_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    idx = TX.build_inverted_index(docs, "doc_id", "text")
    return TX.search_and(idx, "hash", "join").orderBy(
        F.desc("score"), F.asc("doc")
    )


# ---------------------------------------------------------------------------
# Vocabulary + token-id encoding — the numericalization step feeding a
# trainer: top-100 vocab with deterministic (freq DESC, token ASC) id
# assignment, then each document as its id sequence (OOV → 0),
# position-preserving. Ids serialize space-joined for the cross-engine
# hash; raw text leaves the pipeline at this step.
# ---------------------------------------------------------------------------

@_q(
    "token_id_encoding",
    """
WITH freq AS (
  SELECT token, COUNT(*) AS freq
  FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
  GROUP BY token ORDER BY freq DESC, token ASC LIMIT 100
),
vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY freq DESC, token ASC) AS tid
  FROM freq
),
toks AS (
  SELECT doc_id, t.pos, str_split(text, ' ')[t.pos] AS token
  FROM documents,
       unnest(range(1, len(str_split(text, ' ')) + 1)) AS t(pos)
),
enc AS (
  SELECT tk.doc_id, tk.pos, COALESCE(v.tid, 0) AS tid
  FROM toks tk LEFT JOIN vocab v ON tk.token = v.token
)
SELECT doc_id,
       string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
FROM enc GROUP BY doc_id ORDER BY doc_id
""",
)
def token_id_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = TX.build_vocab(docs, "text", 100)
    enc = TX.encode_ids(docs, "doc_id", "text", vocab)
    return enc.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("ids"), lambda i: i.cast("string")), " "
        ).alias("ids"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE merge-rule training — the tokenizer-build step as relational
# algebra: weighted pair counts via lead() windows over the (tiny)
# distinct-word frame, deterministic (cnt DESC, lhs, rhs) pair choice,
# and the greedy left-to-right merge expressed statelessly as
# gaps-and-islands (odd-ranked positions within runs of consecutive
# matches). The oracle unrolls the identical recurrence
# (operators/bpe.py), so the trained artifact hash-compares.
# ---------------------------------------------------------------------------

def _bpe_oracle():
    from ..operators.bpe import bpe_oracle_sql

    return bpe_oracle_sql(iterations=4)


@_q("bpe_merge_rules", _bpe_oracle())
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_merges

    docs = load(spark, sf_dir, "documents")
    return bpe_merges(docs, "text", iterations=4).orderBy("step")


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup — directed pairs where the smaller
# document's shingle set is ≥ 4/5 contained in the other's: the
# embedded-document case (quoted article inside a host page) that
# symmetric Jaccard misses because the union is host-dominated. Integer
# threshold compare (n_inter·5 ≥ n_a·4) — engine-exact cut.
# ---------------------------------------------------------------------------

@_q(
    "dedup_containment",
    f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(sa.n_sh AS BIGINT) AS n_a,
       CAST(sb.n_sh AS BIGINT) AS n_b,
       CAST(n_inter AS DOUBLE) / sa.n_sh AS containment
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_inter * 5 >= sa.n_sh * 4
ORDER BY doc_a, doc_b
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return D.containment_pairs(
        docs, "doc_id", "text", threshold_num=4, threshold_den=5
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Source-overlap matrix from KMV sketches — pairwise Jaccard estimates
# between sources computed from k-minimum-values sketches of their
# token sets, never joining the corpora. KMV is DETERMINISTIC (k
# smallest md5s of the distinct tokens), so unlike HLL this sketch has
# an exact SQL twin: the driver hash-compares a sketch-based estimator
# cross-engine. Estimates carry ~1/√k error by design — the value
# verified is the estimator's output, which both engines must agree on
# bit-for-bit.
# ---------------------------------------------------------------------------

@_q(
    "source_overlap_kmv",
    """
WITH toks AS (
  SELECT DISTINCT source AS grp, md5(token) AS h FROM (
    SELECT source, unnest(str_split(text, ' ')) AS token FROM documents
  )
),
ranked AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM toks
),
sk AS (
  SELECT grp, list(h ORDER BY h) AS kmv FROM ranked
  WHERE rn <= 128 GROUP BY grp
)
SELECT a.grp AS grp_a, b.grp AS grp_b,
       CAST(len(list_filter(
              list_slice(list_sort(list_distinct(a.kmv || b.kmv)), 1, 128),
              x -> list_contains(a.kmv, x) AND list_contains(b.kmv, x)))
            AS DOUBLE)
         / LEAST(128, len(list_slice(
              list_sort(list_distinct(a.kmv || b.kmv)), 1, 128)))
         AS jaccard_est
FROM sk a JOIN sk b ON a.grp < b.grp
ORDER BY grp_a, grp_b
""",
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(D.tokens_col("text")).alias("token")
    )
    sk = D.kmv_sketches(toks, "source", "token", k=128)
    return D.kmv_overlap(sk, k=128).orderBy("grp_a", "grp_b")


# ---------------------------------------------------------------------------
# Exact substring dedup (ExactSubstr, sliding-window form)
# ---------------------------------------------------------------------------

_SUBSTR_W = 10

_SUBSTR_ORACLE = f"""
WITH sp_docs AS (SELECT doc_id, str_split(text, ' ') AS sp FROM documents),
toks AS (
  SELECT doc_id, generate_subscripts(sp, 1) - 1 AS tpos, unnest(sp) AS token
  FROM sp_docs
),
g0 AS (
  SELECT doc_id, sp, unnest(range(0, len(sp) - {_SUBSTR_W} + 1)) AS start
  FROM sp_docs WHERE len(sp) >= {_SUBSTR_W}
),
grams AS (
  SELECT doc_id, start,
         md5(array_to_string(sp[start + 1 : start + {_SUBSTR_W}], ' ')) AS gh
  FROM g0
),
hot AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) >= 2),
flagged AS (SELECT doc_id, start FROM grams JOIN hot USING (gh)),
covers AS (
  SELECT DISTINCT doc_id, unnest(range(start, start + {_SUBSTR_W})) AS tpos
  FROM flagged
),
kept AS (
  SELECT t.doc_id,
         array_to_string(list(t.token ORDER BY t.tpos), ' ') AS text_clean,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM covers c
    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos
  )
  GROUP BY t.doc_id
),
base AS (
  SELECT doc_id, CAST(len(sp) AS BIGINT) AS n_tokens FROM sp_docs
)
SELECT base.doc_id, COALESCE(text_clean, '') AS text_clean, n_tokens,
       n_tokens - COALESCE(n_kept, 0) AS n_removed
FROM base LEFT JOIN kept USING (doc_id)
"""


@_q("substring_dedup", _SUBSTR_ORACLE)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (Lee et al. ExactSubstr): every 10-token
    span occurring ≥2 times in the corpus removed from every document
    at every alignment. The reference algorithm is a single-machine
    suffix array; `operators/dedup.exact_substring_dedup` re-expresses
    it as five bucketed hash-agg/equi-join stages on md5 gram keys —
    see its docstring for the 100 TB posture."""
    docs = load(spark, sf_dir, "documents")
    return D.exact_substring_dedup(
        docs, "doc_id", "text", window=_SUBSTR_W, min_count=2
    )


# ---------------------------------------------------------------------------
# Quality-ranked cluster representative: near-dup clusters keep the
# BEST member (longest doc, deterministic tie) instead of min-id —
# the policy real pipelines want (drop the truncated copies, keep the
# complete one). Same pair/closure machinery as dedup_clusters; the
# representative is one window over the (node, component) frame.
# ---------------------------------------------------------------------------

@_q(
    "dedup_keep_best",
    f"""
WITH RECURSIVE
sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
members AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
ranked AS (
  SELECT m.component, m.node,
         row_number() OVER (
           PARTITION BY m.component
           ORDER BY d.n_chars DESC, m.node ASC
         ) AS rk
  FROM members m JOIN documents d ON m.node = d.doc_id
),
counts AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM members GROUP BY 1
)
SELECT r.component, r.node AS keep_id, c.n_members
FROM ranked r JOIN counts c USING (component)
WHERE rk = 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=3)
    cc = D.connected_components(pairs, "doc_a", "doc_b")
    quality = docs.select(F.col("doc_id").alias("node"), "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("node")
    )
    ranked = cc.join(quality, "node").withColumn(
        "rk", F.row_number().over(w)
    )
    counts = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        ranked.filter(F.col("rk") == 1)
        .join(counts, "component")
        .select("component", F.col("node").alias("keep_id"), "n_members")
    )


# ---------------------------------------------------------------------------
# PMI collocations — strongest token bigrams by pointwise mutual
# information in RATIO form: p(xy)/(p(x)p(y)) = c12·U²/(B·c1·c2) with
# U = total unigrams, B = total bigrams. log is monotone, so ranking by
# the ratio IS ranking by PMI — and the ratio is one division of exact
# integer products (libm-free, the same dodge as tfidf/bm25).
# ---------------------------------------------------------------------------

_PMI_EXPR = (
    "ROUND(CAST(c12 AS DOUBLE) * u_tot * u_tot"
    " / (CAST(b_tot AS DOUBLE) * c1 * c2), 6)"
)


@_q(
    "token_pmi_top",
    f"""
WITH sp_docs AS (SELECT str_split(text, ' ') AS sp FROM documents),
uni AS (SELECT unnest(sp) AS w FROM sp_docs),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w),
ut AS (SELECT CAST(COUNT(*) AS BIGINT) AS u_tot FROM uni),
bg AS (
  SELECT sp[i] AS w1, sp[i + 1] AS w2
  FROM (SELECT sp, unnest(range(1, len(sp))) AS i FROM sp_docs
        WHERE len(sp) >= 2)
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
),
bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_tot FROM bg),
scored AS (
  SELECT w1, w2, c12, {_PMI_EXPR} AS pmi_ratio
  FROM bc
  JOIN uc u1 ON bc.w1 = u1.w
  JOIN uc u2 ON bc.w2 = u2.w
  CROSS JOIN ut CROSS JOIN bt,
  LATERAL (SELECT u1.c AS c1, u2.c AS c2) AS _
  WHERE c12 >= 5
)
SELECT w1, w2, c12, pmi_ratio FROM scored
ORDER BY pmi_ratio DESC, w1 ASC, w2 ASC LIMIT 20
""",
)
def token_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by ratio-PMI with a count-≥5 floor. One
    bigram explode + three hash aggs; unigram counts join back onto the
    vocab-sized bigram frame (AQE broadcasts when small); the totals
    are 1-row broadcasts. TakeOrdered bounds the result."""
    docs = load(spark, sf_dir, "documents")
    toks = TX.tokens_col("text")
    uni = docs.select(F.explode(toks).alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    ut = uni.agg(F.count(F.lit(1)).cast("long").alias("u_tot"))
    bg = (
        docs.filter(F.size(toks) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.struct(
                        F.element_at(toks, i).alias("w1"),
                        F.element_at(toks, i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    bt = bg.agg(F.count(F.lit(1)).cast("long").alias("b_tot"))
    scored = (
        bc.filter(F.col("c12") >= 5)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(ut))
        .crossJoin(F.broadcast(bt))
        .select("w1", "w2", "c12", F.expr(_PMI_EXPR).alias("pmi_ratio"))
    )
    return scored.orderBy(
        F.col("pmi_ratio").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# Embedding drift — cosine between consecutive ingest periods'
# centroids (the ML-ops signal that a source's distribution moved).
# Periods are simulated as vec_id mod 4; centroids use the exact
# scaled-integer means of `label_centroids`, so the only rounding is
# the final cosine at 6.
# ---------------------------------------------------------------------------

@_q(
    "embedding_drift",
    """
WITH c AS (
  SELECT vec_id % 4 AS period, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
comp AS (
  SELECT period, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS val
  FROM c
),
cent AS (
  SELECT period, pos,
    CAST(SUM(CAST(ROUND(val * 1000000) AS BIGINT)) AS DOUBLE)
      / (1000000.0 * COUNT(*)) AS cval
  FROM comp GROUP BY 1, 2
),
vecs AS (
  SELECT period, list(cval ORDER BY pos) AS centroid FROM cent GROUP BY 1
)
SELECT a.period AS period_from, b.period AS period_to,
  ROUND(list_dot_product(a.centroid, b.centroid)
    / (sqrt(list_dot_product(a.centroid, a.centroid))
       * sqrt(list_dot_product(b.centroid, b.centroid))), 6)
    AS centroid_cosine
FROM vecs a JOIN vecs b ON b.period = a.period + 1
""",
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "period", F.col("vec_id") % 4
    )
    cents = S.label_centroids(emb, "period", "embedding")
    a = cents.select(
        F.col("period").alias("period_from"), F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col("period").alias("period_to"), F.col("centroid").alias("cb")
    )
    joined = a.join(
        F.broadcast(b), b["period_to"] == a["period_from"] + 1
    )
    return joined.select(
        "period_from",
        "period_to",
        F.round(
            S.dot("ca", "cb")
            / (S.l2_norm("ca") * S.l2_norm("cb")),
            6,
        ).alias("centroid_cosine"),
    )


# ---------------------------------------------------------------------------
# RAG chunking — overlapping sliding windows (size 32, stride 24) with
# stable (doc, chunk) keys. The oracle replays the window arithmetic.
# ---------------------------------------------------------------------------

@_q(
    "document_chunks",
    """
WITH sp_docs AS (SELECT doc_id, str_split(text, ' ') AS sp FROM documents),
g AS (
  SELECT doc_id, sp,
    unnest(range(0,
      1 + CAST(floor((greatest(len(sp) - 32, 0) + 24 - 1) / 24) AS INT)
    )) AS k
  FROM sp_docs
)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       array_to_string(sp[k * 24 + 1 : k * 24 + 32], ' ') AS chunk_text,
       CAST(least(32, len(sp) - k * 24) AS BIGINT) AS n_chunk_tokens
FROM g
""",
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.chunk_documents(docs, "doc_id", "text", size=32, stride=24)


# ---------------------------------------------------------------------------
# One-row dataset card — the corpus summary a data release publishes:
# volume, token budget, language spread, exact-duplicate rate. One
# scan + one agg (the dup rate reuses the md5 fingerprint distinct).
# ---------------------------------------------------------------------------

@_q(
    "corpus_report",
    """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
    AS exact_dup_rate
FROM documents
""",
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import tokens_col

    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens_col("text"))).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dups"),
        (
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation: labeled × predicted confusion matrix — the
# classifier report card over the same deterministic marker-argmax as
# `lang_id` (its oracle CTE re-aggregated).
# ---------------------------------------------------------------------------

def _lang_confusion_oracle() -> str:
    inner = _lang_id_oracle()
    return f"""
WITH per_doc AS ({inner})
SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM per_doc GROUP BY lang, predicted_lang
"""


@_q("lang_confusion", _lang_confusion_oracle())
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        lang_id(spark, sf_dir)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Decile lift chart — rank documents by a screening score (length
# proxy) and measure how exact duplicates concentrate across deciles:
# the gains-chart evaluation of any screening heuristic. Dup flags from
# the fingerprint min-id (every non-keeper is a duplicate).
#
# Scale note (replaces the r4 global-NTILE formulation): NTILE(10)
# with no PARTITION BY funnels every document through one window task.
# Here the nine decile edges of n_chars are computed in ONE
# map-side-combining aggregate (percentile_disc), broadcast back as a
# 1-row frame, and deciles assigned with plain comparisons — the data
# path past the scan is shuffle-free. Tie semantics differ from NTILE
# by design (equal-length docs share a decile, so decile populations
# are not exactly n/10); the oracle uses the identical edge
# formulation. At 100 TB the exact percentile_disc would be swapped
# for approx_percentile (t-digest, bounded memory); exact is kept for
# oracle parity.
# ---------------------------------------------------------------------------

_DECILE_PS = [round(0.1 * i, 1) for i in range(1, 10)]


@_q(
    "quality_decile_lift",
    """
WITH flagged AS (
  SELECT doc_id, n_chars,
    CAST(doc_id > MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT)
      AS is_dup
  FROM documents
),
edges AS (
  SELECT
    """
    + ",\n    ".join(
        "CAST(percentile_disc("
        + str(p)
        + ") WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS e"
        + str(int(p * 100))
        for p in _DECILE_PS
    )
    + """
  FROM documents
),
scored AS (
  SELECT is_dup,
    1 + """
    + " + ".join(
        f"CAST(n_chars > e{int(p * 100)} AS INT)" for p in _DECILE_PS
    )
    + """ AS decile
  FROM flagged CROSS JOIN edges
)
SELECT CAST(decile AS BIGINT) AS decile,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
  CAST(SUM(is_dup) AS DOUBLE) / COUNT(*) AS dup_rate
FROM scored GROUP BY decile
""",
)
def quality_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    wf = Window.partitionBy(F.md5("text"))
    flagged = docs.select(
        "doc_id",
        "n_chars",
        (F.col("doc_id") > F.min("doc_id").over(wf)).cast("int").alias(
            "is_dup"
        ),
    )
    edges = docs.agg(
        *[
            F.expr(
                f"CAST(percentile_disc({p}) WITHIN GROUP"
                " (ORDER BY n_chars) AS BIGINT)"
            ).alias(f"e{int(p * 100)}")
            for p in _DECILE_PS
        ]
    )
    decile = F.lit(1) + sum(
        (F.col("n_chars") > F.col(f"e{int(p * 100)}")).cast("int")
        for p in _DECILE_PS
    )
    scored = flagged.crossJoin(F.broadcast(edges)).select(
        "is_dup", decile.alias("decile")
    )
    return scored.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dups"),
        (F.sum("is_dup").cast("double") / F.count(F.lit(1))).alias(
            "dup_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Document-length CDF — the exact cumulative distribution of n_chars at
# distinct-value grain, via operators/distsort.ranked_cumsum (two-pass
# partition-offset running sum; no single-partition window anywhere).
# The curve a curation pipeline reads to pick length cutoffs: value_rank
# is the distinct-length index, cdf the exact share of docs at or below
# that length.
# ---------------------------------------------------------------------------

@_q(
    "doc_length_cdf",
    """
WITH c AS (
  SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY n_chars
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM c),
r AS (
  SELECT n_chars, n_docs,
    CAST(row_number() OVER (ORDER BY n_chars ASC) AS BIGINT)
      AS value_rank,
    CAST(SUM(n_docs) OVER (
      ORDER BY n_chars ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_docs
  FROM c
)
SELECT value_rank, n_chars, n_docs, cum_docs,
       CAST(cum_docs AS DOUBLE) / t AS cdf
FROM r CROSS JOIN tot
""",
)
def doc_length_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import distsort as DS

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = counts.agg(F.sum("n_docs").cast("long").alias("t"))
    ranked = DS.ranked_cumsum(
        counts,
        [F.asc("n_chars")],
        "n_docs",
        rank_name="value_rank",
        cumsum_name="cum_docs",
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "value_rank",
        "n_chars",
        "n_docs",
        F.col("cum_docs").cast("long").alias("cum_docs"),
        (F.col("cum_docs").cast("double") / F.col("t")).alias("cdf"),
    )


# ---------------------------------------------------------------------------
# Temperature-flattened mixture: per-language quotas ∝ sqrt(n) — the
# standard multilingual rebalancing (high-resource langs downweighted).
# IEEE sqrt is correctly rounded, so the frozen integer weights (and
# hence the bigint quota arithmetic) are bit-identical across engines.
# ---------------------------------------------------------------------------

_TEMP_TOTAL = 200


@_q(
    "temperature_mixture",
    f"""
WITH sizes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
w AS (
  SELECT lang, n,
         CAST(ROUND(SQRT(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sw
  FROM sizes
),
tot AS (SELECT CAST(SUM(sw) AS BIGINT) AS s FROM w),
q AS (
  SELECT lang, LEAST(n, ({_TEMP_TOTAL} * sw) // s) AS quota
  FROM w CROSS JOIN tot
),
r AS (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang, r.source
FROM r JOIN q USING (lang)
WHERE rn <= quota
""",
)
def temperature_mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    return SA.temperature_mixture(
        docs, key="doc_id", group="lang", total=_TEMP_TOTAL
    ).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap — pairwise Jaccard of source
# vocabularies (corpus-governance matrix; exact-int ratio).
# ---------------------------------------------------------------------------

@_q(
    "vocab_overlap",
    """
WITH gt AS (
  SELECT DISTINCT source AS g, t.tok
  FROM documents, UNNEST(str_split(text, ' ')) AS t(tok)
),
sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS v FROM gt GROUP BY 1),
inter AS (
  SELECT a.g AS group_a, b.g AS group_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM gt a JOIN gt b ON a.tok = b.tok AND a.g < b.g
  GROUP BY 1, 2
)
SELECT group_a, group_b,
       sa.v AS vocab_a, sb.v AS vocab_b, n_common,
       CAST(n_common AS DOUBLE)
         / CAST(sa.v + sb.v - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.g = group_a
JOIN sizes sb ON sb.g = group_b
""",
)
def vocab_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return TX.vocab_overlap(docs, "source", "text")


# ---------------------------------------------------------------------------
# Embedding second-moment (gram) matrix — the one-pass statistic
# behind whitening/PCA/OPQ. Exploded (i,j) terms collapse under
# map-side partial aggregation, so the shuffle carries d²·partitions
# rows regardless of N; per-term round-then-BIGINT-sum is the repo's
# exact-sum policy (identical integers on any engine).
# ---------------------------------------------------------------------------

@_q(
    "embedding_gram",
    """
WITH idx AS (SELECT range AS i FROM range(0, 64)),
terms AS (
  SELECT a.i AS i, b.i AS j,
         CAST(ROUND(CAST(e.embedding[a.i + 1] AS DOUBLE)
                    * CAST(e.embedding[b.i + 1] AS DOUBLE)
                    * 1000000, 0) AS BIGINT) AS t
  FROM embeddings e, idx a, idx b
  WHERE b.i >= a.i
)
SELECT i, j, CAST(SUM(t) AS BIGINT) AS gram_e6
FROM terms GROUP BY 1, 2
""",
)
def embedding_gram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_gram(emb, "embedding", dims=64)


# ---------------------------------------------------------------------------
# Sequence packing (operators/sampling.pack_sequences): concat-and-chunk
# the corpus into fixed-capacity training sequences on a deterministic
# md5 tape order. The oracle replays the identical arithmetic with a
# window cumsum + generate_series — every (doc, shard) slice matches
# value-for-value. pack_manifest aggregates the same packing per shard.
# ---------------------------------------------------------------------------

_PACK_CAP = 512

_PACK_CORE = f"""
  t AS (
    SELECT doc_id,
           md5(concat('pack:', CAST(doc_id AS VARCHAR))) AS h,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS tok
    FROM documents
    WHERE len(str_split(text, ' ')) > 0
  ),
  c AS (
    SELECT doc_id, tok,
           CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS seq,
           CAST(SUM(tok) OVER (ORDER BY h, doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end
    FROM t
  ),
  e AS (
    SELECT doc_id, tok, seq, cum_end - tok AS strt,
           (cum_end - tok) // {_PACK_CAP} AS fs,
           (cum_end - 1) // {_PACK_CAP} AS ls
    FROM c
  ),
  x AS (
    SELECT e.*, unnest(generate_series(fs, ls)) AS shard_id FROM e
  ),
  packed AS (
    SELECT CAST(shard_id AS BIGINT) AS shard_id, doc_id, seq,
      CAST(greatest(0, shard_id * {_PACK_CAP} - strt) AS BIGINT)
        AS tok_start,
      CAST(least(tok, shard_id * {_PACK_CAP} + {_PACK_CAP} - strt)
        AS BIGINT) AS tok_end
    FROM x
  )
"""


@_q(
    "pack_sequences",
    f"""
WITH {_PACK_CORE}
SELECT shard_id, doc_id, seq, tok_start, tok_end,
       tok_end - tok_start AS n_tokens
FROM packed
""",
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    packed = SA.pack_sequences(
        docs, "doc_id", TX.token_count("text"), _PACK_CAP
    )
    return packed.select(
        "shard_id",
        "doc_id",
        "seq",
        "tok_start",
        "tok_end",
        (F.col("tok_end") - F.col("tok_start")).alias("n_tokens"),
    )


@_q(
    "pack_manifest",
    f"""
WITH {_PACK_CORE}
SELECT shard_id,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(tok_end - tok_start) AS BIGINT) AS n_tokens,
  CAST(SUM(CASE WHEN tok_start > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_continuations
FROM packed GROUP BY shard_id
""",
)
def pack_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    packed = SA.pack_sequences(
        docs, "doc_id", TX.token_count("text"), _PACK_CAP
    )
    return packed.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("tok_end") - F.col("tok_start"))
        .cast("long")
        .alias("n_tokens"),
        F.sum((F.col("tok_start") > 0).cast("long"))
        .cast("long")
        .alias("n_continuations"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup probe (operators/dedup.incremental_near_dups):
# the daily-ingest shape — docs ≡ 0 mod 3 are "today's increment",
# checked against the STORED banded-LSH index of everything else
# without re-reading old text. The oracle recomputes both sides'
# signatures from scratch (same 32-bit family) and takes the
# cross-slice band matches, so the index path must agree value-for-
# value with a full recompute.
# ---------------------------------------------------------------------------


def _incr_near_dup_oracle() -> str:
    sig_cols = ",\n    ".join(
        f"min(substr(md5('{j // 4}:' || shingle), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(8)
    )
    agree = " + ".join(f"CAST(a.h{j} = b.h{j} AS INT)" for j in range(8))
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT *, md5(h0 || h1 || h2 || h3) AS band0,
            md5(h4 || h5 || h6 || h7) AS band1
  FROM sig
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({agree}) / 8.0 AS est_jaccard
FROM banded a
JOIN banded b
  ON a.doc_id % 3 <> 0 AND b.doc_id % 3 = 0
 AND (a.band0 = b.band0 OR a.band1 = b.band1)
"""


@_q("incremental_near_dups", _incr_near_dup_oracle())
def incremental_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stored = docs.filter(F.col("doc_id") % 3 != 0)
    increment = docs.filter(F.col("doc_id") % 3 == 0)
    index = D.minhash_index(stored, "doc_id", "text")
    pairs, _new_rows = D.incremental_near_dups(
        index, increment, "doc_id", "text"
    )
    return pairs


# ---------------------------------------------------------------------------
# Conversation assembly (operators/text.assemble_conversations): each
# user's event stream rendered as one chat-style training document —
# turns in (ts, event_id) order, '<|role|>content' per turn. The
# oracle is DuckDB's ordered string_agg of the identical rendering.
# ---------------------------------------------------------------------------


@_q(
    "chat_transcripts",
    """
SELECT user_id AS conv_id,
  string_agg('<|' || event_type || '|>' || props, chr(10)
             ORDER BY ts, event_id) AS text,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(length(string_agg('<|' || event_type || '|>' || props, chr(10)
              ORDER BY ts, event_id)) AS BIGINT) AS n_chars
FROM events GROUP BY user_id
""",
)
def chat_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import load as _load

    ev = _load(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        "ts",
        "event_id",
        "event_type",
        "props",
    )
    return TX.assemble_conversations(
        ev, "conv_id", ["ts", "event_id"], "event_type", "props"
    )


# ---------------------------------------------------------------------------
# Split-leakage audit: near-duplicate pairs that STRADDLE the
# train/val/test boundary — the documents that inflate held-out scores
# if left in place. Pure composition: banded-LSH candidates
# (dedup.lsh_candidate_pairs) ⋈ the deterministic md5-bucket split
# (sampling.deterministic_split), keeping cross-split pairs. Both
# pieces already have exact oracle twins; the audit's oracle composes
# the same CTEs with the same integer bucket edges.
# ---------------------------------------------------------------------------


def _split_leakage_oracle() -> str:
    t_edge = int(round(0.8 * 256))
    v_edge = t_edge + int(round(0.1 * 256))
    sig_cols = ",\n    ".join(
        f"min(substr(md5('{j // 4}:' || shingle), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(8)
    )
    agree = " + ".join(f"CAST(a.h{j} = b.h{j} AS INT)" for j in range(8))
    bucket = SP.oracle_bucket_sql("doc_id")
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT *, md5(h0 || h1 || h2 || h3) AS band0,
            md5(h4 || h5 || h6 || h7) AS band1
  FROM sig
),
sp AS (
  SELECT doc_id,
    CASE WHEN {bucket} < {t_edge} THEN 'train'
         WHEN {bucket} < {v_edge} THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ({agree}) / 8.0 AS est_jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM banded a
JOIN banded b
  ON a.doc_id < b.doc_id
 AND (a.band0 = b.band0 OR a.band1 = b.band1)
JOIN sp sa ON a.doc_id = sa.doc_id
JOIN sp sb ON b.doc_id = sb.doc_id
WHERE sa.split <> sb.split
"""


@_q("split_leakage_audit", _split_leakage_oracle())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(docs, "doc_id", "text")
    splits = SP.deterministic_split(
        docs.select("doc_id"), "doc_id"
    ).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "est_jaccard", "split_a", "split_b")
    )


# ---------------------------------------------------------------------------
# Session-cut conversation assembly: the SFT-prep composite — cut each
# user's event stream at 30-minute gaps (the `sessionization` idiom),
# then render every session as its own chat document
# (text.assemble_conversations). One per-user window pass + one hash
# aggregate on (user, session).
# ---------------------------------------------------------------------------


@_q(
    "chat_sessions",
    """
WITH g AS (
  SELECT user_id, ts, event_id, event_type, props,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
s AS (
  SELECT user_id, ts, event_id, event_type, props,
         SUM(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id AS conv_id, CAST(session_id AS BIGINT) AS session_id,
  string_agg('<|' || event_type || '|>' || props, chr(10)
             ORDER BY ts, event_id) AS text,
  CAST(COUNT(*) AS BIGINT) AS n_turns,
  CAST(length(string_agg('<|' || event_type || '|>' || props, chr(10)
              ORDER BY ts, event_id)) AS BIGINT) AS n_chars
FROM s GROUP BY 1, 2
""",
)
def chat_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .tables import load as _load

    ev = _load(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        "ts",
        "event_id",
        "event_type",
        "props",
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1800), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(cum).cast("long")
    )
    out = TX.assemble_conversations(
        sess.withColumn(
            "__ck",
            F.concat(
                F.col("conv_id").cast("string"),
                F.lit(":"),
                F.col("session_id").cast("string"),
            ),
        ),
        "__ck",
        ["ts", "event_id"],
        "event_type",
        "props",
    )
    parts = F.split(F.col("__ck"), ":")
    return out.select(
        parts[0].cast("long").alias("conv_id"),
        parts[1].cast("long").alias("session_id"),
        "text",
        "n_turns",
        "n_chars",
    )


# ---------------------------------------------------------------------------
# Mixture drift report: actual per-source TOKEN share vs the target
# mixture weights (the monitoring view a data-mix owner watches; the
# drift column is what triggers re-balancing via mixture_sample /
# temperature_mixture). Exact arithmetic: token counts are BIGINT,
# shares are single IEEE divisions by the global total, drift = share
# − target. Sources outside the target mix report a NULL target
# (FULL accounting — unplanned sources are exactly the ones a drift
# report must surface).
# ---------------------------------------------------------------------------


def _mixture_drift_oracle() -> str:
    vals = ", ".join(
        f"('{g}', CAST({w} AS DOUBLE))"
        for g, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(source, target_share) AS (SELECT * FROM (VALUES {vals})),
c AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM c)
SELECT c.source, c.n_docs, c.n_tokens,
       CAST(c.n_tokens AS DOUBLE) / t.tot AS token_share,
       w.target_share,
       CAST(c.n_tokens AS DOUBLE) / t.tot - w.target_share AS drift
FROM c CROSS JOIN t LEFT JOIN w ON c.source = w.source
"""


@_q("mixture_drift", _mixture_drift_oracle())
def mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark_df = load(spark, sf_dir, "documents")
    w = spark.createDataFrame(
        sorted((g, float(wt)) for g, wt in _MIX_WEIGHTS.items()),
        "source string, target_share double",
    )
    c = spark_df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("long").alias("n_tokens"),
    )
    t = c.agg(F.sum("n_tokens").cast("long").alias("tot"))
    share = F.col("n_tokens").cast("double") / F.col("tot")
    return (
        c.crossJoin(F.broadcast(t))
        .join(F.broadcast(w), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("token_share"),
            "target_share",
            (share - F.col("target_share")).alias("drift"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance-resampling selection (operators/dsir.py)
# ---------------------------------------------------------------------------

from ..operators import dsir as DS  # noqa: E402


def _dsir_oracle() -> str:
    bucket = DS.token_bucket_sql("w")
    gkey = DS.gumbel_key_sql("s.doc_id")
    return f"""
WITH tok AS (
  SELECT doc_id, source = 'src0' AS is_target,
         unnest(str_split(text, ' ')) AS w
  FROM documents
),
tb AS (SELECT doc_id, is_target, {bucket} AS b FROM tok),
bc AS (
  SELECT b,
         CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS BIGINT) AS n_r
  FROM tb GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_t) AS BIGINT) AS nt_tot,
         CAST(SUM(n_r) AS BIGINT) AS nr_tot
  FROM bc
),
delta AS (
  SELECT b,
         CAST(ROUND(ln(
           CAST((n_t + 1) * (nr_tot + {DS.N_BUCKETS}) AS DOUBLE)
           / CAST((n_r + 1) * (nt_tot + {DS.N_BUCKETS}) AS DOUBLE)
         ) * {DS.SCALE}, 0) AS BIGINT) AS delta_micro
  FROM bc CROSS JOIN tot
),
scores AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(delta_micro) AS BIGINT) AS score_micro
  FROM tb t JOIN delta USING (b)
  WHERE NOT t.is_target
  GROUP BY 1
)
SELECT s.doc_id, d.source, d.lang, s.n_tokens, s.score_micro,
       CAST(s.score_micro + {gkey} AS BIGINT) AS gkey_micro
FROM scores s JOIN documents d USING (doc_id)
ORDER BY gkey_micro DESC, s.doc_id
LIMIT 50
"""


@_q("dsir_select", _dsir_oracle())
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): pick the 50 pool
    documents whose hashed-unigram distribution best matches the
    `src0` target corpus, drawn by Gumbel-top-k over exact-integer
    log importance weights. Reference analog: the reference filters
    source rows by static predicates (`Matter/SP_matter.sql`); this
    is the distribution-matching upgrade a pretraining pipeline needs.
    Plan: 64-row model agg (map-side combined) -> broadcast delta
    join onto the token stream -> one doc-keyed hash agg ->
    TakeOrderedAndProject."""
    docs = load(spark, sf_dir, "documents")
    sel = DS.dsir_select(
        docs, "doc_id", "text", F.col("source") == "src0", k=50
    )
    return (
        sel.join(docs.select("doc_id", "source", "lang"), "doc_id")
        .select(
            "doc_id", "source", "lang",
            "n_tokens", "score_micro", "gkey_micro",
        )
        .orderBy(F.col("gkey_micro").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# RLHF preference-pair assembly (operators/preference.py)
# ---------------------------------------------------------------------------

from ..operators.preference import preference_pairs  # noqa: E402

_PREF_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type
           ORDER BY value DESC, event_id
         ) AS rn
  FROM events
)
SELECT user_id, event_type,
       MAX(CASE WHEN rn = 1 THEN event_id END) AS chosen_id,
       MAX(CASE WHEN rn = 2 THEN event_id END) AS rejected_id,
       MAX(CASE WHEN rn = 1 THEN cents END) AS chosen_cents,
       MAX(CASE WHEN rn = 2 THEN cents END) AS rejected_cents,
       MAX(CASE WHEN rn = 1 THEN cents END)
         - MAX(CASE WHEN rn = 2 THEN cents END) AS margin_cents
FROM ranked
WHERE rn <= 2
GROUP BY 1, 2
HAVING MAX(CASE WHEN rn = 2 THEN event_id END) IS NOT NULL
"""


@_q("preference_pairs", _PREF_ORACLE)
def preference_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF pair construction: per (user, event_type) prompt
    group, the two highest-value events become (chosen, rejected)
    with an exact integer-cents margin. One hash shuffle — the top-2
    window and the pivot aggregate share the group partitioning."""
    events = load(spark, sf_dir, "events")
    return preference_pairs(
        events, ["user_id", "event_type"], "event_id", "value"
    )


# ---------------------------------------------------------------------------
# Margin-based bitext mining (operators/similarity.margin_mined_pairs)
# ---------------------------------------------------------------------------

_BITEXT_ORACLE = """
WITH a AS (
  SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 0
),
b AS (
  SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 1
),
pairs AS (
  SELECT a_id, b_id,
         CAST(ROUND(
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           * 1e6, 0) AS BIGINT) AS cos_micro
  FROM a CROSS JOIN b
),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_micro DESC, b_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos_micro DESC, a_id) AS rn_b
  FROM pairs
),
den_a AS (
  SELECT a_id, CAST(SUM(cos_micro) AS BIGINT) AS den_a
  FROM ranked WHERE rn_a <= 4 GROUP BY 1
),
den_b AS (
  SELECT b_id, CAST(SUM(cos_micro) AS BIGINT) AS den_b
  FROM ranked WHERE rn_b <= 4 GROUP BY 1
),
scored AS (
  SELECT p.a_id, p.b_id, p.cos_micro,
         CAST(p.cos_micro * 8 AS DOUBLE) / (den_a.den_a + den_b.den_b) AS margin
  FROM pairs p JOIN den_a USING (a_id) JOIN den_b USING (b_id)
),
best AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS best_b,
    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS best_a
  FROM scored
)
SELECT a_id, b_id,
       cos_micro / 1e6 AS cosine,
       ROUND(margin, 6) AS margin
FROM best WHERE best_b = 1 AND best_a = 1
"""


@_q("bitext_margin_pairs", _BITEXT_ORACLE)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (CCMatrix recipe): mutual-best
    alignment of the label-0 and label-1 embedding collections under
    the ratio margin — exact-integer denominators, IEEE-deterministic
    margins. The contracted exact baseline; at scale the same logic
    runs over LSH-bucketed candidates instead of the cross join."""
    emb = load(spark, sf_dir, "embeddings")
    return S.margin_mined_pairs(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        "vec_id",
        "embedding",
        k=4,
    )


# ---------------------------------------------------------------------------
# Exact two-sample KS drift (operators/distsort.ks_drift)
# ---------------------------------------------------------------------------

from ..operators import distsort as DSORT  # noqa: E402

_KS_ORACLE = """
WITH c AS (
  SELECT value AS v,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
  FROM events
  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT v,
         SUM(cnt_a) OVER (ORDER BY v) AS cum_a,
         SUM(cnt_b) OVER (ORDER BY v) AS cum_b
  FROM c
),
tot AS (
  SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a, CAST(SUM(cnt_b) AS BIGINT) AS n_b
  FROM c
)
SELECT CAST(ABS(cum_a * n_b - cum_b * n_a) AS BIGINT) AS ks_num,
       n_a, n_b,
       CAST(ABS(cum_a * n_b - cum_b * n_a) AS DOUBLE)
         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS ks,
       v AS at_value
FROM cum CROSS JOIN tot
ORDER BY ABS(cum_a * n_b - cum_b * n_a) DESC, v
LIMIT 1
"""


@_q("ks_drift", _KS_ORACLE)
def ks_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift between the value
    distributions of click and error events — integer cross-difference
    maximum, zero floating-point state (see operators/distsort.ks_drift
    for the range-exchange cumsum design)."""
    events = load(spark, sf_dir, "events")
    return DSORT.ks_drift(
        events,
        "value",
        F.col("event_type") == "click",
        F.col("event_type") == "error",
    )


# ---------------------------------------------------------------------------
# CCNet-style LM perplexity filter (operators/ngramlm.py)
# ---------------------------------------------------------------------------

from ..operators import ngramlm as NG  # noqa: E402


def _ccnet_oracle() -> str:
    bc = NG.token_bucket_sql("w1", NG.CTX_BUCKETS)
    bw = NG.token_bucket_sql("w2", NG.WORD_BUCKETS)
    model = NG.nll_table_sql("refbg")
    return f"""
WITH sp AS (
  SELECT doc_id, source, str_split(text, ' ') AS sp FROM documents
),
ps AS (
  SELECT doc_id, source,
         generate_subscripts(sp, 1) AS tpos, unnest(sp) AS w
  FROM sp
),
bg AS (
  SELECT doc_id, source,
         lag(w) OVER (PARTITION BY doc_id ORDER BY tpos) AS w1,
         w AS w2
  FROM ps
),
refbg AS (
  SELECT w1, w2 FROM bg WHERE source = 'src0' AND w1 IS NOT NULL
),
model AS ({model}
),
poolbg AS (
  SELECT doc_id, {bc} AS bc, {bw} AS bw
  FROM bg WHERE source <> 'src0' AND w1 IS NOT NULL
),
scores AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(nll_micro) AS BIGINT) AS nll_micro
  FROM poolbg JOIN model USING (bc, bw)
  GROUP BY 1
)
SELECT s.doc_id, d.source, d.lang, s.n_bigrams, s.nll_micro,
       CAST(s.nll_micro AS DOUBLE) / s.n_bigrams AS nll_per_tok
FROM scores s JOIN documents d USING (doc_id)
ORDER BY nll_per_tok, s.doc_id
LIMIT 40
"""


@_q("ccnet_perplexity", _ccnet_oracle())
def ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity filter (Wenzek et al. 2020): train a hashed
    bigram LM on the `src0` reference corpus, score every other
    document's exact-integer total NLL under it, and return the 40
    best (lowest per-token NLL) — the "head" of the perplexity
    distribution that CCNet keeps for pretraining. Plan: zero-shuffle
    bigram transform -> 4096-row model agg (map-side combined) ->
    broadcast model join -> one doc-keyed hash agg ->
    TakeOrderedAndProject. The per-token NLL is one IEEE
    bigint/bigint division, identical across engines."""
    docs = load(spark, sf_dir, "documents")
    scores = NG.perplexity_scores(
        docs, "doc_id", "text", F.col("source") == "src0"
    )
    return (
        scores.join(docs.select("doc_id", "source", "lang"), "doc_id")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_bigrams",
            "nll_micro",
            (F.col("nll_micro").cast("double") / F.col("n_bigrams")).alias(
                "nll_per_tok"
            ),
        )
        .orderBy("nll_per_tok", "doc_id")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (operators/similarity.hard_negatives)
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS a_id, a.label AS a_label,
         b.vec_id AS b_id, b.label AS b_label,
         CAST(ROUND(
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           * 1e6, 0) AS BIGINT) AS cos_micro
  FROM e a CROSS JOIN e b
  WHERE a.vec_id <> b.vec_id
),
pos_best AS (
  SELECT a_id, MAX(cos_micro) AS pos_best_micro
  FROM pairs WHERE a_label = b_label GROUP BY 1
),
negs AS (
  SELECT p.*, pb.pos_best_micro,
         ROW_NUMBER() OVER (
           PARTITION BY p.a_id ORDER BY p.cos_micro DESC, p.b_id
         ) AS neg_rank
  FROM pairs p JOIN pos_best pb USING (a_id)
  WHERE p.a_label <> p.b_label
    AND p.cos_micro <= pb.pos_best_micro - 20000
)
SELECT a_id AS anchor_id, a_label AS anchor_label,
       b_id AS neg_id, b_label AS neg_label, neg_rank,
       cos_micro / 1e6 AS cosine,
       pos_best_micro / 1e6 AS pos_best
FROM negs WHERE neg_rank <= 3
ORDER BY anchor_id, neg_rank
"""


@_q("hard_negative_mining", _HARDNEG_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives (DPR recipe): for every
    labeled embedding, the 3 most-similar DIFFERENT-label vectors
    whose similarity stays a 0.02-cosine margin below the anchor's
    best positive (false-negative guard). Exact-integer gate and
    ranking; contracted exact baseline over the embeddings table —
    the same logic runs over LSH-bucketed candidates at corpus
    scale. Plan (r13 shape): one blocked Arrow sweep scores every
    unordered pair exactly once in bounded numpy tiles (no
    data-sized broadcast, no BroadcastNestedLoopJoin), the positive
    ceiling is a map-side aggregate joined back to the candidates,
    and the negative rank is the single remaining window."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hard_negatives(
        emb,
        "vec_id",
        "embedding",
        "label",
        k=3,
        margin_micro=20000,
    ).orderBy("anchor_id", "neg_rank")


# ---------------------------------------------------------------------------
# Bucketed mining — the 100 TB path for hard negatives and bitext
# mining: the SAME gate/rank (resp. margin/mutual) stage as the exact
# queries above, fed by banded-LSH candidate pairs instead of a
# broadcast cross score. The md5-derived planes make the candidate set
# deterministic, so the oracle replicates the buckets literally (the
# same OR-of-band-equalities join as `lsh_bucketed_cosine`) and these
# are FULL value checks of the approximate path.
# ---------------------------------------------------------------------------

def _band_sig_sql(
    id_expr: str,
    src: str,
    dims: int = 64,
    bands: int = 8,
    planes_per_band: int = 3,
) -> tuple[str, str]:
    """(sig-CTE body, band-match predicate) for the md5-derived banded
    hyperplane buckets — shared by both bucketed-mining oracles; the
    same constants drive `S.hyperplane_signature` Spark-side."""
    from ..operators.similarity import _plane_component

    r = planes_per_band
    bucket_cols = []
    for b in range(bands):
        terms = []
        for j in range(r):
            arr = "[" + ", ".join(
                repr(_plane_component(b * r + j, d)) for d in range(dims)
            ) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0"
                f" THEN {2 ** j} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(terms) + f" AS b{b}")
    buckets = ",\n       ".join(bucket_cols)
    body = f"SELECT {id_expr}, v,\n       {buckets}\nFROM {src}"
    match = lambda a, s: " OR ".join(  # noqa: E731
        f"{a}.b{b} = {s}.b{b}" for b in range(bands)
    )
    return body, match


def _hardneg_bucketed_oracle(threshold_micro: int = 200000) -> str:
    sig_body, match = _band_sig_sql("vec_id", "e")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS ({sig_body}),
cand AS (
  SELECT a.vec_id AS a_id, s.vec_id AS b_id,
         CAST(ROUND(
           list_dot_product(a.v, s.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(s.v, s.v)))
           * 1e6, 0) AS BIGINT) AS cos_micro
  FROM sig a JOIN sig s
    ON a.vec_id < s.vec_id AND ({match('a', 's')})
),
qual AS (SELECT * FROM cand WHERE cos_micro >= {threshold_micro}),
sym AS (
  SELECT a_id, b_id, cos_micro FROM qual
  UNION ALL SELECT b_id, a_id, cos_micro FROM qual
),
pairs AS (
  SELECT s.a_id, la.label AS a_label, s.b_id, lb.label AS b_label,
         s.cos_micro
  FROM sym s
  JOIN embeddings la ON la.vec_id = s.a_id
  JOIN embeddings lb ON lb.vec_id = s.b_id
),
pos_best AS (
  SELECT a_id, MAX(cos_micro) AS pos_best_micro
  FROM pairs WHERE a_label = b_label GROUP BY 1
),
negs AS (
  SELECT p.*, pb.pos_best_micro,
         ROW_NUMBER() OVER (
           PARTITION BY p.a_id ORDER BY p.cos_micro DESC, p.b_id
         ) AS neg_rank
  FROM pairs p JOIN pos_best pb USING (a_id)
  WHERE p.a_label <> p.b_label
    AND p.cos_micro <= pb.pos_best_micro - 20000
)
SELECT a_id AS anchor_id, a_label AS anchor_label,
       b_id AS neg_id, b_label AS neg_label, neg_rank,
       cos_micro / 1e6 AS cosine,
       pos_best_micro / 1e6 AS pos_best
FROM negs WHERE neg_rank <= 3
ORDER BY anchor_id, neg_rank
"""


@_q("hard_negatives_bucketed", _hardneg_bucketed_oracle())
def hard_negatives_bucketed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining over LSH-bucketed candidates — the plan a
    100 TB corpus actually runs (`hard_negative_mining` above is the
    contracted exact baseline it trades against). Candidates are
    bucket-sharing pairs with cos ≥ 0.2 — the threshold is the volume
    dial (near-uniform synthetic vectors make bands prune weakly:
    0 → 731k candidates, 0.2 → 91k at sf0.1) and every intra-label
    ceiling above it survives; the positive ceiling and the ranking
    run over candidates, so bucketing can only tighten the margin
    gate, never loosen it (an anchor whose best positive falls below
    the threshold loses its ceiling and emits nothing — documented
    contract, oracle-replicated). Plan: banded-explode candidate
    tiles → mirrored pairs → two id hash joins for labels → ONE a_id
    exchange shared by ceiling and rank windows. No broadcast of
    anything data-sized."""
    emb = load(spark, sf_dir, "embeddings")
    return S.hard_negatives_bucketed(
        emb,
        "vec_id",
        "embedding",
        "label",
        k=3,
        margin_micro=20000,
        dims=64,
        bands=8,
        planes_per_band=3,
        threshold=0.2,
    ).orderBy("anchor_id", "neg_rank")


def _bitext_bucketed_oracle() -> str:
    siga_body, match = _band_sig_sql("vec_id AS a_id", "ea")
    sigb_body, _ = _band_sig_sql("vec_id AS b_id", "eb")
    return f"""
WITH ea AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 0
),
eb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 1
),
siga AS ({siga_body}),
sigb AS ({sigb_body}),
pairs AS (
  SELECT a_id, b_id,
         CAST(ROUND(
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           * 1e6, 0) AS BIGINT) AS cos_micro
  FROM siga a JOIN sigb b ON ({match('a', 'b')})
),
qual AS (SELECT * FROM pairs WHERE cos_micro >= 0),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_micro DESC, b_id) AS rn_a,
    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos_micro DESC, a_id) AS rn_b
  FROM qual
),
den_a AS (
  SELECT a_id, CAST(SUM(cos_micro) AS BIGINT) AS den_a
  FROM ranked WHERE rn_a <= 4 GROUP BY 1
),
den_b AS (
  SELECT b_id, CAST(SUM(cos_micro) AS BIGINT) AS den_b
  FROM ranked WHERE rn_b <= 4 GROUP BY 1
),
scored AS (
  SELECT p.a_id, p.b_id, p.cos_micro,
         CAST(p.cos_micro * 8 AS DOUBLE) / (den_a.den_a + den_b.den_b) AS margin
  FROM qual p JOIN den_a USING (a_id) JOIN den_b USING (b_id)
),
best AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS best_b,
    ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS best_a
  FROM scored
)
SELECT a_id, b_id,
       cos_micro / 1e6 AS cosine,
       ROUND(margin, 6) AS margin
FROM best WHERE best_b = 1 AND best_a = 1
"""


@_q("bitext_margin_bucketed", _bitext_bucketed_oracle())
def bitext_margin_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining over bipartite LSH-bucketed candidates — the
    100 TB path (`bitext_margin_pairs` above is the contracted exact
    baseline). Margin denominators and mutual-best ranks run over the
    candidate set, the same approximation Faiss-backed CCMatrix
    mining makes with ANN top-k — but deterministic here, so the
    oracle value-checks every emitted pair. Plan: banded-explode →
    shuffle equi-join on the bucket key (hot buckets are ordinary AQE
    join skew) → persisted 3-col candidate frame → windows/joins of
    the shared margin stage."""
    emb = load(spark, sf_dir, "embeddings")
    return S.margin_mined_pairs_bucketed(
        emb.filter(F.col("label") == 0),
        emb.filter(F.col("label") == 1),
        "vec_id",
        "embedding",
        k=4,
        dims=64,
        bands=8,
        planes_per_band=3,
        threshold_micro=0,
    )


# ---------------------------------------------------------------------------
# Embedding-space decontamination (operators/dedup.semantic_contamination)
# — the paraphrase-leakage companion to the n-gram `decontaminate`
# query: corpus × benchmark bipartite LSH buckets → cosine threshold.
# τ = 0.30 is the synthetic-data dial (near-uniform random vectors top
# out near cos 0.5; real sentence embeddings would use ~0.85): 185 /
# 169 / 2352 qualifying pairs at sf0.001/0.01/0.1 — nonvacuous at
# every committed SF.
# ---------------------------------------------------------------------------

SEMANTIC_DECON_TAU_MICRO = 300000


def _semantic_decon_oracle(tau_micro: int = SEMANTIC_DECON_TAU_MICRO) -> str:
    sigc_body, match = _band_sig_sql("vec_id AS c_id", "ec")
    sigb_body, _ = _band_sig_sql("vec_id AS b_id", "eb")
    return f"""
WITH ec AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label <> 9
),
eb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 9
),
sigc AS ({sigc_body}),
sigb AS ({sigb_body}),
pairs AS (
  SELECT c_id, b_id,
         CAST(ROUND(
           list_dot_product(c.v, b.v)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(b.v, b.v)))
           * 1e6, 0) AS BIGINT) AS cos_micro
  FROM sigc c JOIN sigb b ON ({match('c', 'b')})
),
qual AS (SELECT * FROM pairs WHERE cos_micro >= {tau_micro}),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_id ORDER BY cos_micro DESC, b_id
  ) AS rn FROM qual
)
SELECT c_id AS vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       MAX(cos_micro) AS max_cos_micro,
       MIN(CASE WHEN rn = 1 THEN b_id END) AS nearest_bench_id
FROM ranked GROUP BY c_id
ORDER BY vec_id
"""


@_q("decontaminate_semantic", _semantic_decon_oracle())
def decontaminate_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination report: every corpus vector
    (labels 0-8) that shares an LSH band bucket with a benchmark
    vector (label 9) at cosine ≥ τ, with hit count and nearest
    benchmark item. Plan (`dedup.semantic_contamination` →
    `similarity.lsh_bucketed_cross_pairs`): banded-explode both sides
    → ONE shuffle equi-join on the bucket key → hash agg on corpus
    id. No broadcast hint, no BNLJ, no Cartesian — the benchmark side
    is small but nothing requires it to fit in memory."""
    emb = load(spark, sf_dir, "embeddings")
    return D.semantic_contamination(
        emb.filter(F.col("label") != 9),
        emb.filter(F.col("label") == 9),
        "vec_id",
        "embedding",
        tau_micro=SEMANTIC_DECON_TAU_MICRO,
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Gopher / C4 quality rules (operators/text.gopher_rules)
# ---------------------------------------------------------------------------

def _gopher_sql_parts() -> tuple[str, str, str]:
    """(per-doc measurement CTE body, flag column SQL, keep predicate)
    — shared by the per-doc rules oracle and the epoch-trend oracle,
    same constants as the Spark operator."""
    stop_sql = ", ".join(f"'{s}'" for s in TX.GOPHER_STOP_REQUIRED)
    bullet_sql = " OR ".join(
        f"starts_with(l, '{p}')" for p in TX.BULLET_PREFIXES
    )
    ellipsis_sql = " OR ".join(
        f"ends_with(l, '{s}')" for s in TX.ELLIPSIS_SUFFIXES
    )
    # every threshold is the same cross-multiplied integer comparison
    # the Spark operator uses — no float boundary anywhere
    rules = {
        "r_word_count": "n_words >= 50 AND n_words <= 100000",
        "r_mean_word_len": (
            "word_chars >= 3 * n_words AND word_chars <= 10 * n_words"
        ),
        "r_symbol_ratio": "10 * n_sym <= n_words",
        "r_bullet_lines": "10 * n_bullet <= 9 * n_lines",
        "r_ellipsis_lines": "10 * n_ellipsis <= 3 * n_lines",
        "r_alpha_words": "5 * n_alpha >= 4 * n_words",
        "r_stopwords": f"n_stop >= {TX.GOPHER_STOP_MIN}",
        "r_no_lorem": "NOT contains(lower(text), 'lorem ipsum')",
        "r_no_brace": "NOT contains(text, '{')",
    }
    flag_cols = ",\n  ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS {name}"
        for name, cond in rules.items()
    )
    keep_cond = " AND ".join(f"({c})" for c in rules.values())
    m_body = f"""SELECT doc_id, text,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(coalesce(list_sum(list_transform(
             str_split(text, ' '), w -> length(w))), 0) AS BIGINT)
           AS word_chars,
         CAST(len(list_filter(str_split(text, ' '),
             w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
         CAST(length(text) - length(replace(text, '{TX.HASH_GLYPH}', ''))
           AS BIGINT)
         + CAST(length(text)
             - length(replace(text, '{TX.ELLIPSIS_GLYPH}', ''))
           AS BIGINT) AS n_sym,
         CAST(len(list_filter(str_split(text, chr(10)),
             l -> {bullet_sql})) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(str_split(text, chr(10)),
             l -> {ellipsis_sql})) AS BIGINT) AS n_ellipsis,
         CAST(len(list_filter([{stop_sql}],
             s -> list_contains(str_split(text, ' '), s))) AS BIGINT)
           AS n_stop
  FROM documents"""
    return m_body, flag_cols, keep_cond


def _gopher_oracle() -> str:
    m_body, flag_cols, keep_cond = _gopher_sql_parts()
    return f"""
WITH m AS (
  {m_body}
)
SELECT doc_id, n_words, n_lines,
  {flag_cols},
  CASE WHEN {keep_cond} THEN 1 ELSE 0 END AS keep
FROM m
"""


@_q("gopher_quality_rules", _gopher_oracle())
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher (Rae et al. 2021) + C4 (Raffel et al. 2020) document
    quality screens over the documents table — one integer flag per
    published rule plus the conjunction `keep`. Every ratio threshold
    is cross-multiplied into exact integer arithmetic, and the whole
    report is a single zero-shuffle projection over (doc_id, text):
    scan-speed at 100 TB with full column pruning."""
    docs = load(spark, sf_dir, "documents")
    return TX.gopher_rules(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Epoch quality trend (streaming/monitor.quality_trend) — the batch,
# oracle-checkable form of the streaming quality monitor's metrics
# table: per-epoch volume / token mass / Gopher keep share, plus the
# keep_share drift vs the previous epoch. Epochs are synthesized
# deterministically from doc_id so the query runs over the standard
# tables (the stream writes the identical metric spelling per batch).
# ---------------------------------------------------------------------------

def _quality_trend_oracle(n_epochs: int = 8) -> str:
    m_body, _flag_cols, keep_cond = _gopher_sql_parts()
    return f"""
WITH m AS (
  {m_body}
),
kd AS (
  SELECT doc_id % {n_epochs} AS epoch, n_words,
         CASE WHEN {keep_cond} THEN 1 ELSE 0 END AS keep
  FROM m
),
per AS (
  SELECT epoch,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_tokens,
         CAST(SUM(keep) AS BIGINT) AS n_keep
  FROM kd GROUP BY 1
)
SELECT epoch, n_docs, n_tokens, n_keep,
       ROUND(CAST(n_keep AS DOUBLE) / n_docs, 6) AS keep_share,
       ROUND(
         CAST(n_keep AS DOUBLE) / n_docs
           - LAG(CAST(n_keep AS DOUBLE) / n_docs) OVER (ORDER BY epoch),
         6
       ) AS keep_share_delta
FROM per ORDER BY epoch
"""


@_q("corpus_quality_trend", _quality_trend_oracle())
def corpus_quality_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch corpus-quality trend — the batch replica of the
    streaming monitor's metrics table (streaming/monitor.py): same
    exact-integer metrics per epoch, plus keep_share drift vs the
    previous epoch. Epoch = doc_id mod 8 (deterministic stand-in for
    the stream's micro-batch id). Plan: zero-shuffle Gopher projection
    with the epoch carried through → one epoch hash agg → a lag window
    over the 8-row result (bounded by epoch count, not data)."""
    from ..streaming.monitor import quality_trend

    docs = load(spark, sf_dir, "documents").withColumn(
        "epoch", F.col("doc_id") % 8
    )
    return quality_trend(docs, "doc_id", "text", "epoch")


# ---------------------------------------------------------------------------
# Cross-source duplication audit (composition: banded LSH ∘ source join)
# ---------------------------------------------------------------------------

def _cross_source_dup_oracle() -> str:
    # reuse the committed minhash-LSH pair SQL verbatim as a subquery —
    # the matrix is a pure composition over the same candidate set
    return f"""
WITH p AS ({_minhash_oracle()})
SELECT
  least(da.source, db.source)    AS src_lo,
  greatest(da.source, db.source) AS src_hi,
  CAST(COUNT(*) AS BIGINT)       AS n_pairs,
  CAST(SUM(CAST(ROUND(p.est_jaccard * 8, 0) AS BIGINT)) AS BIGINT)
                                 AS sum_agree,
  CAST(SUM(CAST(ROUND(p.est_jaccard * 8, 0) AS BIGINT)) AS DOUBLE)
    / (8 * COUNT(*))             AS mean_est_jaccard
FROM p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
ORDER BY n_pairs DESC, src_lo, src_hi
"""


@_q("cross_source_dup_matrix", _cross_source_dup_oracle())
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: for every (source, source) pair,
    how many banded-LSH near-duplicate candidate pairs straddle them
    and their mean signature agreement — the curation diagnostic that
    surfaces which corpus slices copy from each other (mirrors,
    scraped re-posts) before mixture weights are chosen.

    Pure composition: the committed `lsh_candidate_pairs` candidate
    set (banding bounds pairs — no quadratic tile at scale) joined to
    the 2-column (doc_id, source) projection on both endpoints (AQE
    picks broadcast vs shuffle by measured size), then one hash
    aggregate on the |sources|²-bounded matrix key. Agreement sums
    are exact BIGINTs (est_jaccard is k/8, so est·8 is an integer by
    construction); the mean is one IEEE division for presentation.
    """
    docs = load(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2, shingle_n=3
    )
    src = docs.select("doc_id", "source")
    sa = F.col("__sa.source")
    sb = F.col("__sb.source")
    return (
        pairs.join(src.alias("__sa"), pairs["doc_a"] == F.col("__sa.doc_id"))
        .join(src.alias("__sb"), pairs["doc_b"] == F.col("__sb.doc_id"))
        .select(
            F.least(sa, sb).alias("src_lo"),
            F.greatest(sa, sb).alias("src_hi"),
            F.round(F.col("est_jaccard") * 8, 0).cast("long").alias("__agree"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("__agree").cast("long").alias("sum_agree"),
        )
        .select(
            "src_lo",
            "src_hi",
            "n_pairs",
            "sum_agree",
            (F.col("sum_agree").cast("double") / (8 * F.col("n_pairs"))).alias(
                "mean_est_jaccard"
            ),
        )
        .orderBy(F.col("n_pairs").desc(), "src_lo", "src_hi")
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (composition over operators/ngramlm)
# ---------------------------------------------------------------------------

def _doremi_oracle() -> str:
    bc = NG.token_bucket_sql("w1", NG.CTX_BUCKETS)
    bw = NG.token_bucket_sql("w2", NG.WORD_BUCKETS)
    model = NG.nll_table_sql("refbg")
    return f"""
WITH sp AS (
  SELECT doc_id, source, str_split(text, ' ') AS sp FROM documents
),
ps AS (
  SELECT doc_id, source,
         generate_subscripts(sp, 1) AS tpos, unnest(sp) AS w
  FROM sp
),
bg AS (
  SELECT doc_id, source,
         lag(w) OVER (PARTITION BY doc_id ORDER BY tpos) AS w1,
         w AS w2
  FROM ps
),
refbg AS (
  SELECT w1, w2 FROM bg WHERE source = 'src0' AND w1 IS NOT NULL
),
model AS ({model}
),
poolbg AS (
  SELECT source, {bc} AS bc, {bw} AS bw
  FROM bg WHERE source <> 'src0' AND w1 IS NOT NULL
),
dom AS (
  SELECT source,
         CAST(SUM(nll_micro) AS BIGINT) AS dom_nll,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams
  FROM poolbg JOIN model USING (bc, bw)
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(dom_nll) AS BIGINT) AS tot_nll,
         CAST(SUM(n_bigrams) AS BIGINT) AS tot_bg
  FROM dom
),
w AS (
  SELECT source, dom_nll, n_bigrams,
         CAST(ROUND(exp(greatest(
             CAST(dom_nll AS DOUBLE) / n_bigrams
               - CAST(tot_nll AS DOUBLE) / tot_bg, 0.0) / 1e6)
           * 1e6, 0) AS BIGINT) AS w_micro
  FROM dom, tot
),
tw AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS sum_w FROM w)
SELECT source, n_bigrams, dom_nll, w_micro,
       CAST(w_micro AS DOUBLE) / sum_w AS weight
FROM w, tw
ORDER BY weight DESC, source
"""


@_q("doremi_weights", _doremi_oracle())
def doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, one
    exponentiated-gradient step): score every non-reference domain's
    mean NLL under the hashed bigram LM trained on the `src0`
    reference slice, then upweight domains with EXCESS loss over the
    corpus mean — ``w_d ∝ exp(max(mean_d − overall, 0))`` — the
    domains the proxy finds hardest get more mixture mass.

    Exactness: domain NLL and bigram counts are BIGINT sums; means
    are IEEE bigint/bigint divisions; the only libm call is the one
    exp per DOMAIN (micro-rounded, ≤|sources| calls total); the final
    weight is w_micro/Σw_micro — two exact integers. Plan: zero-
    shuffle bigram transform → broadcast 4096-cell model join → ONE
    hash agg on the |sources|-bounded domain key (no doc-level
    intermediate), then two 1-row totals folded back by broadcast-
    sized cross joins over the ≤|sources|-row cached frame."""
    docs = load(spark, sf_dir, "documents")
    bgb = NG.bucketed_stream(
        docs, "doc_id", "text", F.col("source") == "src0",
        extra=["source"],
    )
    model = NG.nll_table_bucketed(bgb.filter(F.col("__ref")))
    pool = bgb.filter(~F.col("__ref"))
    dom = (
        pool.join(F.broadcast(model), ["bc", "bw"])
        .groupBy("source")
        .agg(
            F.sum("nll_micro").cast("long").alias("dom_nll"),
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        )
        .persist()
    )
    tot = dom.agg(
        F.sum("dom_nll").cast("long").alias("tot_nll"),
        F.sum("n_bigrams").cast("long").alias("tot_bg"),
    )
    w = dom.crossJoin(tot).select(
        "source",
        "dom_nll",
        "n_bigrams",
        F.round(
            F.exp(
                F.greatest(
                    F.col("dom_nll").cast("double") / F.col("n_bigrams")
                    - F.col("tot_nll").cast("double") / F.col("tot_bg"),
                    F.lit(0.0),
                )
                / F.lit(1e6)
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("w_micro"),
    )
    tw = w.agg(F.sum("w_micro").cast("long").alias("sum_w"))
    return (
        w.crossJoin(tw)
        .select(
            "source",
            "n_bigrams",
            "dom_nll",
            "w_micro",
            (F.col("w_micro").cast("double") / F.col("sum_w")).alias(
                "weight"
            ),
        )
        .orderBy(F.col("weight").desc(), "source")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic dedup scoped to k-means
# clusters. k is ADAPTIVE — ceil(n / SEMDEDUP_TARGET_ROWS) via
# `similarity.adaptive_kmeans_codebook` — so cluster populations (and
# therefore every quadratic within-cluster tile) stay ~target-bounded
# as the corpus grows; a fixed k was the r08 rehearsal's 19.75×/10×
# slope. Codebook and routing table are train-once fixtures like the
# IVF/PQ index artifacts. Keep rule per duplicate group: the member
# FARTHEST from its centroid (lowest centroid cosine; ties to lowest
# id) — the paper's choice, which preserves the cluster's outer shell.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.45
SEMDEDUP_TARGET_ROWS = 125


def semdedup_codebook_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _build_fixture(
        spark, sf_dir, "semdedup_codebook",
        lambda: S.adaptive_kmeans_codebook(
            load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            target_cluster_rows=SEMDEDUP_TARGET_ROWS,
        ),
    )


def semdedup_cells_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _build_fixture(
        spark, sf_dir, "semdedup_cells",
        lambda: S.assign_clusters(
            load(spark, sf_dir, "embeddings"),
            semdedup_codebook_fixture(spark, sf_dir),
            "vec_id", "embedding",
        ).select("vec_id", "cluster"),
    )


def ann_index_store_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-maintained IVF vector store
    (`streaming/annindex.index_ingest_batch`) as a committed fixture:
    a cell-partitioned (vec_id, embedding, cluster) parquet built by a
    deterministic TWO-batch ingest — batch 1 = even ids, batch 2 = ALL
    ids, so the second batch exercises the store's replay anti-join
    (evens dedupe, odds append) during the build. The finished store is
    every embedding exactly once with its codebook cell — exactly
    ``assignF`` of the adaptive training chain, so the probe query's
    SQL twin rebuilds it from scratch and a corrupted/duplicated store
    hash-mismatches immediately (the ivf_cells/pq_codes posture, r09).

    The codebook is the ADAPTIVE one (k = ceil(n/125), the semdedup
    fixture): r10 rehearsal showed the fixed-k=8 build densifying
    every cell 10x per 10x data — probe cost grew with the corpus.
    With target-bounded cells the probed cell stays ~125 rows at any
    scale (measured: the probe's 10x slope dropped 11.5x -> ~1x). The
    codebook is still FIXED for the stream's lifetime — adaptivity is
    a BUILD-time choice, re-chosen only when the index is rebuilt."""
    from ..streaming import annindex as AX

    def build(target: str) -> None:
        emb = load(spark, sf_dir, "embeddings")
        cb = semdedup_codebook_fixture(spark, sf_dir)
        AX.index_ingest_batch(
            emb.filter(F.col("vec_id") % 2 == 0), target, cb
        )
        AX.index_ingest_batch(emb, target, cb)

    return _store_fixture(spark, sf_dir, "ann_index_store", build)


def _ann_index_probe_oracle(k: int = 4) -> str:
    # the maintained store ≡ assignF of the ADAPTIVE chain (every
    # embedding exactly once in its target-bounded cell), so the
    # probe's twin composes the adaptive training CTEs with the
    # probe's own query set and k
    parts = _adaptive_train_ctes(SEMDEDUP_TARGET_ROWS)
    parts[0] = "WITH " + parts[0]
    parts.append("q AS (SELECT * FROM assignF WHERE vec_id < 5)")
    parts.append(f"""scored AS (
  SELECT q.vec_id AS query_id, s.vec_id AS neighbor_id,
         {_duck_cos("q.v", "s.v")} AS cosine
  FROM q JOIN assignF s ON q.cluster = s.cluster AND q.vec_id <> s.vec_id
)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
  ) AS rank
  FROM scored
) WHERE rank <= {k}
ORDER BY query_id, rank
"""
    )


@_q("ann_index_probe", _ann_index_probe_oracle())
def ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over the STREAMING-MAINTAINED store (verdict r09 item
    5: the streaming ANN index was pytest-only; its queryable state is
    now hash-oracled). `annindex.probe_index` joins queries to the
    store's STORED cluster column — no corpus re-assignment, the point
    of maintaining the index — and the store itself is the committed
    two-batch-ingest fixture, so this row verifies BOTH the maintained
    state (a duplicate or mis-celled id shifts ranks and mismatches)
    and the probe. Plan: broadcast-codebook assignment over the QUERY
    set only, one cluster equi-join that prunes to the probed cells
    (~125-row adaptive cells at every scale), bounded per-query top-k
    window."""
    from ..streaming import annindex as AX

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return AX.probe_index(
        ann_index_store_fixture(spark, sf_dir),
        queries,
        semdedup_codebook_fixture(spark, sf_dir),
        k=4,
    ).orderBy("query_id", "rank")


def _ann_index_recall_oracle(k: int = 4) -> str:
    # probe chain reused verbatim as a subquery (the cross_source_dup
    # composition pattern); truth = exact cosine top-k over the corpus
    return f"""
WITH probe AS ({_ann_index_probe_oracle(k)}),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qf AS (SELECT vec_id, v FROM c WHERE vec_id < 5),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qf.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY qf.vec_id
             ORDER BY {_duck_cos("qf.v", "c.v")} DESC, c.vec_id ASC
           ) AS rk
    FROM qf JOIN c ON qf.vec_id <> c.vec_id
  ) WHERE rk <= {k}
)
SELECT t.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits,
       CAST(COUNT(p.neighbor_id) AS DOUBLE) / {k} AS recall_at_k
FROM truth t
LEFT JOIN probe p
  ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
GROUP BY t.query_id
ORDER BY t.query_id
"""


@_q("ann_index_recall", _ann_index_recall_oracle())
def ann_index_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the streaming-maintained IVF store against exact
    float cosine — the approximation an IVF index actually makes
    (neighbors OUTSIDE the probed cell are unreachable; int8 loss is
    `ann_recall_report`'s axis, whitening `whitened_ann_recall`'s).
    The report an index maintainer watches trigger over trigger: a
    recall drop means the fixed codebook has drifted from the data
    and the index needs a rebuild. Both sides deterministic, so the
    recall NUMBERS hash-match the oracle. Plan: the cell-pruned probe
    (bounded cells) + the k-row-per-query exact baseline over 5 fixed
    queries — the truth side is query-bounded, not corpus-quadratic."""
    from ..streaming import annindex as AX

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    k = 4
    truth = S.cosine_topk(
        emb, queries, "vec_id", "embedding", k=k
    ).select("query_id", "neighbor_id")
    probe = AX.probe_index(
        ann_index_store_fixture(spark, sf_dir),
        queries,
        semdedup_codebook_fixture(spark, sf_dir),
        k=k,
    ).select("query_id", F.col("neighbor_id").alias("p_neighbor"))
    joined = truth.join(
        probe,
        (truth["query_id"] == probe["query_id"])
        & (truth["neighbor_id"] == probe["p_neighbor"]),
        "left",
    ).select(truth["query_id"], "p_neighbor")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("p_neighbor").cast("long").alias("n_hits"),
            (F.count("p_neighbor").cast("double") / k).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


def _semdedup_oracle() -> str:
    ctes = ",\n".join(_adaptive_train_ctes(SEMDEDUP_TARGET_ROWS))
    return f"""
WITH RECURSIVE {ctes},
withcos AS (
  SELECT a.vec_id, a.cluster,
         {_duck_cos("a.v", "cent2.cv")} AS cent_cos
  FROM assignF a JOIN cent2 ON a.cluster = cent2.cent_id
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assignF a JOIN assignF b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE {_duck_cos("a.v", "b.v")} >= {SEMDEDUP_TAU}
),
sym AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION ALL SELECT vec_b, vec_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (
  SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
),
ranked AS (
  SELECT c.component, c.node, w.cent_cos,
         row_number() OVER (
           PARTITION BY c.component ORDER BY w.cent_cos, c.node
         ) AS rn
  FROM comp c JOIN withcos w ON w.vec_id = c.node
)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       MIN(CASE WHEN rn = 1 THEN node END) AS keep_id
FROM ranked
GROUP BY component
ORDER BY component
"""


@_q("semdedup", _semdedup_oracle())
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every embedding to its k-means cluster (the
    committed train-once IVF codebook), find within-cluster pairs with
    cosine ≥ τ, connect them into duplicate groups, and keep ONE
    member per group — the one farthest from its centroid. Emits one
    row per duplicate group: (component, n_members, n_dropped,
    keep_id).

    Plan: codebook AND routing table are committed train-once fixtures
    (`semdedup_codebook_fixture` / `semdedup_cells_fixture`, k =
    ⌈n / SEMDEDUP_TARGET_ROWS⌉) → cluster-keyed self-join whose
    quadratic tile is bounded PER CLUSTER by construction (k scales
    with the corpus, so populations stay ~target; no global pair tile)
    → hash-min/pointer-jump connected components → one hash agg per
    group with a struct-ordered min_by keep rule. The centroid join
    carries NO broadcast hint: k ∝ n is unbounded, so AQE decides
    (it will broadcast at any committed SF). Cosines compare at the
    committed rounded-6 spelling, so the oracle (which retrains the
    adaptive codebook relationally) is bit-identical."""
    emb = load(spark, sf_dir, "embeddings")
    cb = semdedup_codebook_fixture(spark, sf_dir)
    assigned = semdedup_cells_fixture(spark, sf_dir).join(emb, "vec_id")
    cent = cb.select(
        F.col("vec_id").alias("__cent_id"),
        F.col("embedding").alias("__cent_vec"),
    )
    withcos = (
        assigned.join(cent, F.col("cluster") == F.col("__cent_id"))
        .select(
            "vec_id",
            "cluster",
            F.round(
                S.cosine(F.col("embedding"), F.col("__cent_vec")), 6
            ).alias("cent_cos"),
        )
    )
    # within-cluster pairs through the blocked-numpy sweep (r13
    # optimization, guide §4.2): the cluster IS the bucket, so each
    # quadratic tile is one ~target-rows cell — the same kernel (and
    # the same bit-exact fold-order contract) as
    # `embedding_dedup_clusters`; the old equi-self-join evaluated an
    # interpreted lambda-fold cosine per pair. Bucketed blocking keeps
    # the tile bounded even if a cell drifts hot (skew-adaptive B).
    pairs = (
        S.cosine_pairs_blocked(
            assigned.select("vec_id", "cluster", "embedding"),
            "vec_id",
            "embedding",
            threshold=SEMDEDUP_TAU,
            out_a="vec_a",
            out_b="vec_b",
            bucket_col="cluster",
        )
        .filter(F.round(F.col("cosine_raw"), 6) >= F.lit(SEMDEDUP_TAU))
        .select("vec_a", "vec_b")
    )
    cc = D.connected_components(pairs, "vec_a", "vec_b")
    return (
        cc.join(withcos, cc["node"] == withcos["vec_id"])
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
            F.min_by(
                F.col("node"), F.struct(F.col("cent_cos"), F.col("node"))
            ).alias("keep_id"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity buckets — the recipe's final step:
# the corpus splits at fixed perplexity percentiles (head = best 30%,
# middle 40%, tail worst 30%) and pretraining samples mostly from the
# head. Edges are exact percentile_disc values over the per-doc NLL
# ratio via the distributed distsort machinery (no single-task
# distinct-value merge); bucket comparison is on IEEE doubles both
# engines compute identically (bigint/bigint divisions).
# ---------------------------------------------------------------------------

def _ccnet_rated_ctes() -> str:
    """The ccnet scoring chain up to ``rated`` (doc_id, n_bigrams,
    nll_per_tok) + ``edges`` (e30, e70) — shared by the bucket report
    and the curriculum order."""
    bc = NG.token_bucket_sql("w1", NG.CTX_BUCKETS)
    bw = NG.token_bucket_sql("w2", NG.WORD_BUCKETS)
    model = NG.nll_table_sql("refbg")
    return f"""sp AS (
  SELECT doc_id, source, str_split(text, ' ') AS sp FROM documents
),
ps AS (
  SELECT doc_id, source,
         generate_subscripts(sp, 1) AS tpos, unnest(sp) AS w
  FROM sp
),
bg AS (
  SELECT doc_id, source,
         lag(w) OVER (PARTITION BY doc_id ORDER BY tpos) AS w1,
         w AS w2
  FROM ps
),
refbg AS (
  SELECT w1, w2 FROM bg WHERE source = 'src0' AND w1 IS NOT NULL
),
model AS ({model}
),
poolbg AS (
  SELECT doc_id, {bc} AS bc, {bw} AS bw
  FROM bg WHERE source <> 'src0' AND w1 IS NOT NULL
),
scores AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(nll_micro) AS BIGINT) AS nll_micro
  FROM poolbg JOIN model USING (bc, bw)
  GROUP BY 1
),
rated AS (
  SELECT doc_id, n_bigrams,
         CAST(nll_micro AS DOUBLE) / n_bigrams AS nll_per_tok
  FROM scores
),
edges AS (
  SELECT percentile_disc(0.3) WITHIN GROUP (ORDER BY nll_per_tok) AS e30,
         percentile_disc(0.7) WITHIN GROUP (ORDER BY nll_per_tok) AS e70
  FROM rated
)"""


def _ccnet_buckets_oracle() -> str:
    return f"""
WITH {_ccnet_rated_ctes()}
SELECT CASE WHEN nll_per_tok <= e30 THEN 'head'
            WHEN nll_per_tok <= e70 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams
FROM rated, edges
GROUP BY 1
ORDER BY bucket
"""


_CURRICULUM_ORACLE_TAIL = """
SELECT doc_id,
       CASE WHEN nll_per_tok <= e30 THEN 1
            WHEN nll_per_tok <= e70 THEN 2
            ELSE 3 END AS phase,
       md5('curr:' || CAST(doc_id AS VARCHAR)) AS order_key
FROM rated, edges
ORDER BY doc_id
"""


@_q(
    "curriculum_order",
    "WITH " + _ccnet_rated_ctes() + _CURRICULUM_ORACLE_TAIL,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy-first curriculum for training order: phase 1/2/3 =
    CCNet head/middle/tail perplexity terciles (train on the cleanest
    text first — the standard curriculum/annealing recipe), plus a
    deterministic pseudo-random ORDER KEY (md5-salted doc id) for the
    within-phase shuffle. Deliberately emits key COLUMNS, not ranks:
    the traversal order is (phase, order_key, doc_id), and the shard
    writer's repartitionByRange does the actual sorting — a
    per-phase rank window would be 3 giant single-group sorts at
    100 TB. Pure projection after the shared ccnet scoring chain +
    1-row edge broadcast."""
    from ..operators import distsort as DSORT2

    docs = load(spark, sf_dir, "documents")
    scores = NG.perplexity_scores(
        docs, "doc_id", "text", F.col("source") == "src0"
    )
    rated = scores.select(
        "doc_id",
        (F.col("nll_micro").cast("double") / F.col("n_bigrams")).alias(
            "nll_per_tok"
        ),
    ).persist()  # edges + final projection both read it; driver
    # clears the cache between queries (lifecycle note, dedup.py rule)
    edges = DSORT2.percentile_disc_edges(
        rated, "nll_per_tok", [0.3, 0.7], prefix="e"
    )
    return (
        rated.crossJoin(F.broadcast(edges))
        .select(
            "doc_id",
            F.when(F.col("nll_per_tok") <= F.col("e30"), 1)
            .when(F.col("nll_per_tok") <= F.col("e70"), 2)
            .otherwise(3)
            .cast("int")
            .alias("phase"),
            F.md5(
                F.concat(F.lit("curr:"), F.col("doc_id").cast("string"))
            ).alias("order_key"),
        )
        .orderBy("doc_id")
    )


@_q("ccnet_buckets", _ccnet_buckets_oracle())
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's corpus split: bucket every scored document into
    head/middle/tail at the exact 30th/70th perplexity percentiles.
    Edges come from `distsort.percentile_disc_edges` over the per-doc
    NLL ratio — distributed, no single-task distinct-value merge —
    and are folded back as a broadcast 1-row frame."""
    from ..operators import distsort as DSORT2

    docs = load(spark, sf_dir, "documents")
    scores = NG.perplexity_scores(
        docs, "doc_id", "text", F.col("source") == "src0"
    )
    rated = scores.select(
        "doc_id",
        "n_bigrams",
        (F.col("nll_micro").cast("double") / F.col("n_bigrams")).alias(
            "nll_per_tok"
        ),
    ).persist()
    edges = DSORT2.percentile_disc_edges(
        rated, "nll_per_tok", [0.3, 0.7], prefix="e"
    )
    return (
        rated.crossJoin(F.broadcast(edges))
        .select(
            F.when(F.col("nll_per_tok") <= F.col("e30"), "head")
            .when(F.col("nll_per_tok") <= F.col("e70"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_bigrams",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("sum_bigrams"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Token-weighted length percentiles (operators/distsort
# .weighted_percentile_disc_edges) — the packing/budget diagnostic:
# row-count percentiles say where the median DOCUMENT sits; weighted
# ones say where the median TOKEN sits. Both reported side by side.
# ---------------------------------------------------------------------------

_WLEN_ORACLE = """
WITH t AS (
  SELECT n_chars, CAST(len(str_split(text, ' ')) AS BIGINT) AS w
  FROM documents
),
cw AS (
  SELECT n_chars, CAST(SUM(w) AS BIGINT) AS w FROM t GROUP BY 1
),
cum AS (
  SELECT n_chars,
         SUM(w) OVER (ORDER BY n_chars) AS c,
         (SELECT SUM(w) FROM cw) AS W
  FROM cw
)
SELECT
  MIN(CASE WHEN c * 2 >= 1 * W THEN n_chars END)  AS wp50,
  MIN(CASE WHEN c * 10 >= 9 * W THEN n_chars END) AS wp90,
  (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
   FROM documents) AS rp50,
  (SELECT percentile_disc(0.9) WITHIN GROUP (ORDER BY n_chars)
   FROM documents) AS rp90
FROM cum
"""


@_q("token_weighted_length", _WLEN_ORACLE)
def token_weighted_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import distsort as DSORT3

    docs = load(spark, sf_dir, "documents")
    wdf = docs.select(
        "n_chars", TX.token_count("text").alias("__w")
    )
    w_edges = DSORT3.weighted_percentile_disc_edges(
        wdf, "n_chars", "__w", [0.5, 0.9], prefix="wp"
    )
    r_edges = DSORT3.percentile_disc_edges(
        docs, "n_chars", [0.5, 0.9], prefix="rp"
    )
    return w_edges.crossJoin(r_edges)


# ---------------------------------------------------------------------------
# Exact distributed AUC (operators/distsort.auc_exact) — the eval
# metric every quality-classifier pipeline needs, demonstrated on a
# real relationship: do English marker-token hits rank English
# documents above the rest?
# ---------------------------------------------------------------------------

def _auc_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
counts AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
cum AS (
  SELECT s, cnt, pos, SUM(cnt) OVER (ORDER BY s) AS c FROM counts
),
agg AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * c - cnt + 1)) AS BIGINT) AS two_s
  FROM cum
)
SELECT n_pos, n_neg,
       (two_s - n_pos * (n_pos + 1)) / (2 * n_pos * n_neg) AS auc
FROM agg
"""


@_q("lang_marker_auc", _auc_oracle())
def lang_marker_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (Mann-Whitney midrank form) of the English
    marker-hit count against the `lang = 'en'` label — all-integer
    rank sums on one range exchange, one final IEEE division. The
    shape every classifier-threshold decision in a curation pipeline
    needs, at any corpus size."""
    from ..operators import distsort as DSORT4

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT4.auc_exact(scored, "s", "y")


def _pr_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
counts AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
cum AS (
  SELECT s, cnt, pos,
         SUM(cnt) OVER (ORDER BY s) AS c,
         SUM(pos) OVER (ORDER BY s) AS cp
  FROM counts
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS nneg
  FROM counts
)
SELECT s AS threshold,
       CAST(npos - (cp - pos) AS BIGINT) AS tp,
       CAST(nneg - ((c - cp) - (cnt - pos)) AS BIGINT) AS fp,
       CAST(npos - (npos - (cp - pos)) AS BIGINT) AS fn,
       (npos - (cp - pos)) /
         ((npos - (cp - pos)) + (nneg - ((c - cp) - (cnt - pos)))) AS precision,
       (npos - (cp - pos)) / npos AS recall
FROM cum, tot
ORDER BY threshold
"""


@_q("lang_marker_pr", _pr_oracle())
def lang_marker_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at every distinct English-marker-hit threshold
    (`distsort.pr_curve`) — exact integer TP/FP/FN from the same
    single range-exchange cumsum the AUC uses; the report that picks
    a classifier's operating point."""
    from ..operators import distsort as DSORT5

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT5.pr_curve(scored, "s", "y")


# ---------------------------------------------------------------------------
# Mutual information: does `source` carry information about `lang`?
# (operators/quality.mutual_information — micro-rounded ln per cell,
# BIGINT-weighted sums, IEEE divisions; nmi uses IEEE-exact sqrt.)
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM documents GROUP BY 1, 2
),
mx AS (SELECT source, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1),
my AS (SELECT lang, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1),
n1 AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
mi AS (
  SELECT CAST(SUM(nxy * CAST(ROUND(
           ln((nxy * n) / (nx * ny)) * 1000000, 0) AS BIGINT)) AS BIGINT)
           AS mi_num,
         MAX(n) AS n
  FROM cells JOIN mx USING (source) JOIN my USING (lang), n1
),
hx AS (
  SELECT CAST(-SUM(nx * CAST(ROUND(ln(nx / n) * 1000000, 0) AS BIGINT))
         AS BIGINT) AS hx_num
  FROM mx, n1
),
hy AS (
  SELECT CAST(-SUM(ny * CAST(ROUND(ln(ny / n) * 1000000, 0) AS BIGINT))
         AS BIGINT) AS hy_num
  FROM my, n1
)
SELECT n,
       mi_num / (CAST(n AS DOUBLE) * 1000000) AS mi_nats,
       hx_num / (CAST(n AS DOUBLE) * 1000000) AS h_x,
       hy_num / (CAST(n AS DOUBLE) * 1000000) AS h_y,
       (mi_num / (CAST(n AS DOUBLE) * 1000000))
         / sqrt((hx_num / (CAST(n AS DOUBLE) * 1000000))
                * (hy_num / (CAST(n AS DOUBLE) * 1000000))) AS nmi
FROM mi, hx, hy
"""


@_q("source_lang_mi", _MI_ORACLE)
def source_lang_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between corpus source and language, with
    both marginal entropies and normalized MI — the one-row report
    that says whether a mixture dimension is redundant with another.
    One contingency agg (map-side combined), one micro-rounded ln per
    CELL, exact-integer sums, IEEE divisions."""
    from ..operators.quality import mutual_information

    docs = load(spark, sf_dir, "documents")
    return mutual_information(docs, "source", "lang")


# ---------------------------------------------------------------------------
# Corpus datacard — the one-row release summary a dataset ships with.
# Pure composition of committed machinery: token counts (shared
# tokenizer), exact-dup accounting (md5 identity), Gopher keep share,
# language/source concentration. Every number is an exact integer or
# an IEEE division of exact integers.
# ---------------------------------------------------------------------------

def _datacard_oracle() -> str:
    stop_sql = ", ".join(f"'{s}'" for s in TX.GOPHER_STOP_REQUIRED)
    bullet_sql = " OR ".join(
        f"starts_with(l, '{p}')" for p in TX.BULLET_PREFIXES
    )
    ellipsis_sql = " OR ".join(
        f"ends_with(l, '{s}')" for s in TX.ELLIPSIS_SUFFIXES
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, lang, source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS toks,
         CAST(length(text) AS BIGINT) AS chars,
         md5(text) AS fp
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(toks) AS BIGINT) AS n_tokens,
         CAST(SUM(chars) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_texts
  FROM base
),
top_lang AS (
  SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS top_lang_docs
  FROM base GROUP BY 1 ORDER BY top_lang_docs DESC, lang LIMIT 1
),
top_source AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS top_source_docs
  FROM base GROUP BY source ORDER BY top_source_docs DESC, source LIMIT 1
),
keep AS (
  SELECT CAST(SUM(CASE WHEN
      n_words >= 50 AND n_words <= 100000
      AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
      AND 10 * n_sym <= n_words
      AND 10 * n_bullet <= 9 * n_lines
      AND 10 * n_ellipsis <= 3 * n_lines
      AND 5 * n_alpha >= 4 * n_words
      AND n_stop >= {TX.GOPHER_STOP_MIN}
      AND NOT contains(lower(text), 'lorem ipsum')
      AND NOT contains(text, '{{')
    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
  FROM (
    SELECT text,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(str_split(text, chr(10))) AS BIGINT) AS n_lines,
           CAST(coalesce(list_sum(list_transform(
               str_split(text, ' '), w -> length(w))), 0) AS BIGINT)
             AS word_chars,
           CAST(len(list_filter(str_split(text, ' '),
               w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
           CAST(length(text)
             - length(replace(text, '{TX.HASH_GLYPH}', '')) AS BIGINT)
           + CAST(length(text)
             - length(replace(text, '{TX.ELLIPSIS_GLYPH}', ''))
               AS BIGINT) AS n_sym,
           CAST(len(list_filter(str_split(text, chr(10)),
               l -> {bullet_sql})) AS BIGINT) AS n_bullet,
           CAST(len(list_filter(str_split(text, chr(10)),
               l -> {ellipsis_sql})) AS BIGINT) AS n_ellipsis,
           CAST(len(list_filter([{stop_sql}],
               s -> list_contains(str_split(text, ' '), s)))
             AS BIGINT) AS n_stop
    FROM base
  )
)
SELECT n_docs, n_tokens, n_chars, n_langs, n_sources,
       CAST(n_docs - n_distinct_texts AS BIGINT) AS exact_dup_docs,
       top_lang, top_lang_docs,
       top_lang_docs / CAST(n_docs AS DOUBLE) AS top_lang_share,
       top_source_docs / CAST(n_docs AS DOUBLE) AS top_source_share,
       n_keep / CAST(n_docs AS DOUBLE) AS gopher_keep_share,
       n_tokens / CAST(n_docs AS DOUBLE) AS mean_doc_tokens
FROM agg, top_lang, top_source, keep
"""


@_q("corpus_datacard", _datacard_oracle())
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row release summary a dataset ships with: volume
    (docs/tokens/chars), diversity (languages, sources, concentration
    of the largest), hygiene (exact-duplicate count via md5 identity,
    Gopher keep share), and density (mean tokens per doc). Pure
    composition of committed machinery — one scan for the base stats,
    three bounded aggregates folded back by 1-row cross joins."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        TX.token_count("text").alias("toks"),
        F.length("text").cast("long").alias("chars"),
        F.md5("text").alias("fp"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("n_tokens"),
        F.sum("chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("fp").cast("long").alias("n_distinct_texts"),
    )
    top_lang = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("top_lang_docs"))
        .orderBy(F.col("top_lang_docs").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "top_lang_docs")
    )
    top_source = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("top_source_docs"))
        .orderBy(F.col("top_source_docs").desc(), "source")
        .limit(1)
        .select("top_source_docs")
    )
    keep = TX.gopher_rules(docs, "doc_id", "text").agg(
        F.sum("keep").cast("long").alias("n_keep")
    )
    return (
        agg.crossJoin(F.broadcast(top_lang))
        .crossJoin(F.broadcast(top_source))
        .crossJoin(F.broadcast(keep))
        .select(
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_langs",
            "n_sources",
            (F.col("n_docs") - F.col("n_distinct_texts"))
            .cast("long")
            .alias("exact_dup_docs"),
            "top_lang",
            "top_lang_docs",
            (F.col("top_lang_docs") / F.col("n_docs").cast("double")).alias(
                "top_lang_share"
            ),
            (
                F.col("top_source_docs") / F.col("n_docs").cast("double")
            ).alias("top_source_share"),
            (F.col("n_keep") / F.col("n_docs").cast("double")).alias(
                "gopher_keep_share"
            ),
            (F.col("n_tokens") / F.col("n_docs").cast("double")).alias(
                "mean_doc_tokens"
            ),
        )
    )


def _calibration_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS num,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS den,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
binned AS (
  SELECT least(9, (num * 10) // den) AS bin, num, den, y
  FROM scored WHERE den > 0
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(num) AS DOUBLE) / CAST(SUM(den) AS BIGINT) AS mean_score,
       CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
FROM binned
GROUP BY bin
ORDER BY bin
"""


@_q("lang_marker_calibration", _calibration_oracle())
def lang_marker_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the English marker-hit RATIO as a
    probability proxy of `lang = 'en'` (`distsort.calibration_bins`):
    bigint bin assignment (no float edge), exact counts, ratio-of-sums
    mean score per bin — the companion to AUC/PR that says whether
    the score's VALUE (not just its ordering) is trustworthy."""
    from ..operators import distsort as DSORT6

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("num"),
        TX.token_count("text").alias("den"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT6.calibration_bins(scored, "num", "den", "y", n_bins=10)


def _grouped_auc_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT source,
         CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
counts AS (
  SELECT source, s,
         CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1, 2
),
cum AS (
  SELECT source, s, cnt, pos,
         SUM(cnt) OVER (PARTITION BY source ORDER BY s) AS c
  FROM counts
),
agg AS (
  SELECT source,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * c - cnt + 1)) AS BIGINT) AS two_s
  FROM cum GROUP BY 1
)
SELECT source, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN (two_s - n_pos * (n_pos + 1)) / (2 * n_pos * n_neg)
       END AS auc
FROM agg
ORDER BY source
"""


@_q("lang_marker_auc_by_source", _grouped_auc_oracle())
def lang_marker_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact AUC of the English-marker score
    (`distsort.grouped_auc`): slice-level classifier eval — which
    corpus slices the heuristic ranks well — with the same
    no-per-group-funnel machinery as the grouped percentiles. Slices
    with no positives or no negatives report NULL (undefined, not
    zero)."""
    from ..operators import distsort as DSORT7

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT7.grouped_auc(scored, "source", "s", "y")


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the per-class eval artifact for the
# marker-argmax heuristic: one row per (true lang, predicted lang)
# with counts and the within-true-lang share (row-normalized recall
# diagonal). Reuses the committed argmax-fold spelling.
# ---------------------------------------------------------------------------

def _lang_id_confusion_oracle() -> str:
    hit_cols = ",\n  ".join(
        "CAST(len(list_filter(str_split(text, ' '), w -> w IN ({}))) AS BIGINT)"
        " AS hits_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in TX.LANG_MARKERS.items()
    )
    prev_b, prev_n = "'unknown'", "0"
    for lang in sorted(TX.LANG_MARKERS):
        b = f"CASE WHEN hits_{lang} > {prev_n} THEN '{lang}' ELSE {prev_b} END"
        n = f"CASE WHEN hits_{lang} > {prev_n} THEN hits_{lang} ELSE {prev_n} END"
        prev_b, prev_n = b, n
    return f"""
WITH h AS (
  SELECT doc_id, lang,
  {hit_cols}
  FROM documents
),
pred AS (
  SELECT lang, {prev_b} AS predicted_lang FROM h
),
cells AS (
  SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
),
tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1
)
SELECT c.lang, c.predicted_lang, c.n,
       c.n / CAST(t.n_lang AS DOUBLE) AS row_share
FROM cells c JOIN tot t USING (lang)
ORDER BY c.lang, c.predicted_lang
"""


@_q("lang_id_confusion", _lang_id_confusion_oracle())
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-argmax language ID against the
    labeled lang column: (true, predicted, n, within-true share). One
    projection + one hash agg on the ≤\\|langs\\|² matrix key; the
    per-true-lang totals fold back by an AQE-sized join."""
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    pred = TX.lang_scores(docs, "text").select("lang", "predicted_lang")
    cells = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_lang")
    )
    return (
        cells.join(tot, "lang")
        .select(
            "lang",
            "predicted_lang",
            "n",
            (F.col("n") / F.col("n_lang").cast("double")).alias(
                "row_share"
            ),
        )
        .orderBy("lang", "predicted_lang")
    )


def _ece_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS num,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS den,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
binned AS (
  SELECT least(9, (num * 10) // den) AS bin, num, den, y
  FROM scored WHERE den > 0
),
bins AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(num) AS DOUBLE) / CAST(SUM(den) AS BIGINT) AS mean_score,
         CAST(SUM(y) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS pos_rate
  FROM binned GROUP BY bin
)
SELECT CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(n * CAST(ROUND(abs(pos_rate - mean_score) * 1000000, 0)
                    AS BIGINT)) AS BIGINT)
         / (CAST(SUM(n) AS DOUBLE) * 1000000) AS ece
FROM bins
"""


@_q("lang_marker_ece", _ece_oracle())
def lang_marker_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error of the English marker-hit ratio as a
    probability proxy (`distsort.expected_calibration_error`): each
    bin's |observed − predicted| gap micro-rounded to int64, weighted
    BIGINT sum, one division — the one-number reliability summary."""
    from ..operators import distsort as DSORT8

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("num"),
        TX.token_count("text").alias("den"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT8.expected_calibration_error(
        scored, "num", "den", "y", n_bins=10
    )


def _best_f1_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
counts AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
  FROM scored GROUP BY 1
),
cum AS (
  SELECT s, cnt, pos,
         SUM(cnt) OVER (ORDER BY s) AS c,
         SUM(pos) OVER (ORDER BY s) AS cp
  FROM counts
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS nneg
  FROM counts
),
pr AS (
  SELECT s AS threshold,
         CAST(npos - (cp - pos) AS BIGINT) AS tp,
         CAST(nneg - ((c - cp) - (cnt - pos)) AS BIGINT) AS fp,
         CAST(npos - (npos - (cp - pos)) AS BIGINT) AS fn,
         (npos - (cp - pos)) /
           ((npos - (cp - pos)) + (nneg - ((c - cp) - (cnt - pos))))
           AS precision,
         (npos - (cp - pos)) / npos AS recall
  FROM cum, tot
)
SELECT threshold, tp, fp, fn, precision, recall,
       (2 * tp) / (2 * tp + fp + fn) AS f1
FROM pr
ORDER BY f1 DESC, threshold
LIMIT 1
"""


@_q("lang_marker_best_f1", _best_f1_oracle())
def lang_marker_best_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployable operating point for the English-marker filter:
    the threshold maximizing F1 over the exact PR curve
    (`distsort.best_f1_threshold`); ties break to the lowest
    threshold."""
    from ..operators import distsort as DSORT9

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT9.best_f1_threshold(scored, "s", "y")


# ---------------------------------------------------------------------------
# Ranking-eval metrics (operators/distsort.reciprocal_rank / ndcg_at_k)
# — the retrieval side of the eval family: does ranking documents by
# English-marker hits put English documents first? Per-source rankings
# give the grouped (multi-query) shape MRR/nDCG are defined over.
# ---------------------------------------------------------------------------

def _rr_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY s DESC, doc_id ASC
  ) AS rk
  FROM scored
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(y) AS BIGINT) AS n_rel,
       CAST(MIN(CASE WHEN y = 1 THEN rk END) AS BIGINT) AS first_rel_rank,
       1.0 / MIN(CASE WHEN y = 1 THEN rk END) AS rr
FROM ranked
GROUP BY source
ORDER BY source
"""


@_q("lang_marker_rr", _rr_oracle())
def lang_marker_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source reciprocal rank of the English-marker ranking
    against the `lang = 'en'` label (`distsort.reciprocal_rank`) —
    the first-hit retrieval metric, one row per source/query group.
    Integer ranks with a doc_id tiebreak; rr is one IEEE 1/bigint
    division. One source hash exchange shared by the rank window and
    the aggregate."""
    from ..operators import distsort as DSORT10

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT10.reciprocal_rank(
        scored, "source", "s", "doc_id", "y"
    ).orderBy("source")


def _ndcg_oracle(k: int = 10) -> str:
    from ..operators.distsort import ndcg_discounts

    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    disc = "[" + ", ".join(repr(d) for d in ndcg_discounts(k)) + "]"
    return f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 2 WHEN lang = 'de' THEN 1 ELSE 0 END
           AS rel
  FROM documents
),
ranked AS (
  SELECT source,
         CAST((CAST(1 AS BIGINT) << rel) - 1 AS DOUBLE) AS g,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY s DESC, doc_id ASC
         ) AS rk,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY rel DESC, doc_id ASC
         ) AS irk
  FROM scored
),
micro AS (
  SELECT source,
         CASE WHEN rk <= {k}
           THEN CAST(ROUND(g * ({disc})[rk] * 1e6, 0) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS dcg_term,
         CASE WHEN irk <= {k}
           THEN CAST(ROUND(g * ({disc})[irk] * 1e6, 0) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS idcg_term
  FROM ranked
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(dcg_term) AS BIGINT) AS dcg_micro,
       CAST(SUM(idcg_term) AS BIGINT) AS idcg_micro,
       CASE WHEN SUM(idcg_term) > 0
         THEN CAST(SUM(dcg_term) AS DOUBLE) / SUM(idcg_term) END AS ndcg
FROM micro
GROUP BY source
ORDER BY source
"""


@_q("lang_marker_ndcg", _ndcg_oracle())
def lang_marker_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source nDCG@10 of the English-marker ranking with graded
    relevance (en = 2, the related-Germanic de = 1, else 0) —
    `distsort.ndcg_at_k`. The discount table is a shared Python
    literal family (log2 never computed inside an engine), each
    position's gain is micro-rounded BIGINT before the associative
    sum, and nDCG is one IEEE bigint/bigint division."""
    from ..operators import distsort as DSORT10

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang") == "de", 1)
        .otherwise(0)
        .alias("rel"),
    )
    return DSORT10.ndcg_at_k(
        scored, "source", "s", "doc_id", "rel", k=10
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Water-filling token-budget allocation (operators/sampling.
# budget_waterfill) — the allocation step after mixture weighting:
# spend 60% of the corpus's tokens with small sources kept whole and
# large sources capped at a common exact-integer level.
# ---------------------------------------------------------------------------

_WATERFILL_ORACLE = """
WITH n AS (
  SELECT source,
         CAST(SUM(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(n_tokens) * 6 // 10 AS BIGINT) AS b
  FROM n
),
r AS (
  SELECT source, n_tokens,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source) AS BIGINT) AS s
  FROM n
),
lvl AS (
  SELECT
    COALESCE(MAX(CASE WHEN (s - n_tokens) + n_tokens * (m - i + 1) <= b
                      THEN i END), 0) AS j,
    COALESCE(MAX(CASE WHEN (s - n_tokens) + n_tokens * (m - i + 1) <= b
                      THEN s END), 0) AS sj,
    ANY_VALUE(m) AS m, ANY_VALUE(b) AS b
  FROM r CROSS JOIN tot
)
SELECT source, n_tokens,
       CAST(CASE WHEN i <= j THEN n_tokens
            ELSE (b - sj) // (m - j)
                 + (CASE WHEN i <= j + (b - sj) % (m - j)
                         THEN 1 ELSE 0 END)
       END AS BIGINT) AS alloc,
       i > j AS capped
FROM r CROSS JOIN lvl
ORDER BY source
"""


@_q("token_budget_waterfill", _WATERFILL_ORACLE)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate 60% of the corpus's whitespace tokens across sources
    by exact integer water-filling (`sampling.budget_waterfill`):
    sources below the level keep everything, the rest cap at a common
    level, and the mod-remainder goes to the first capped sources in
    the one global (n, source) order the cumsum already assigned —
    Σ alloc = min(budget, total) exactly. Plan: one doc→source hash
    agg, one ranked_cumsum range exchange over the PER-SOURCE counts
    (never the corpus), two 1-row broadcast folds, pure projection."""
    from ..operators.sampling import budget_waterfill

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("long").alias("n_tokens")
    )
    return budget_waterfill(
        counts, "source", "n_tokens", budget_frac=(6, 10)
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Cohen's kappa of the marker-argmax language ID vs the labeled lang
# (operators/quality.cohens_kappa) — the chance-corrected scalar next
# to lang_id_confusion's matrix, one exact-integer division.
# ---------------------------------------------------------------------------

def _lang_argmax_fold_sql() -> tuple[str, str]:
    """(hit-count column list, argmax-fold CASE expression) — the
    committed marker-argmax prediction spelling, shared by the kappa,
    confusion and MCC oracles."""
    hit_cols = ",\n  ".join(
        "CAST(len(list_filter(str_split(text, ' '), w -> w IN ({}))) AS BIGINT)"
        " AS hits_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in TX.LANG_MARKERS.items()
    )
    prev_b, prev_n = "'unknown'", "0"
    for lang in sorted(TX.LANG_MARKERS):
        b = f"CASE WHEN hits_{lang} > {prev_n} THEN '{lang}' ELSE {prev_b} END"
        n = f"CASE WHEN hits_{lang} > {prev_n} THEN hits_{lang} ELSE {prev_n} END"
        prev_b, prev_n = b, n
    return hit_cols, prev_b


def _lang_kappa_oracle() -> str:
    hit_cols, prev_b = _lang_argmax_fold_sql()
    return f"""
WITH h AS (
  SELECT doc_id, lang,
  {hit_cols}
  FROM documents
),
pred AS (
  SELECT lang AS a, {prev_b} AS b FROM h
),
cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
),
row_m AS (SELECT a, CAST(SUM(n) AS BIGINT) AS ra FROM cells GROUP BY 1),
col_m AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cb FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_items,
         CAST(COALESCE(SUM(CASE WHEN a = b THEN n END), 0) AS BIGINT)
           AS n_agree
  FROM cells
),
pe AS (
  -- DECIMAL(38,0) products, mirroring the operator's overflow-safe
  -- spelling (HUGEINT intermediates are exact; the cast fixes the
  -- output type so both engines emit Decimal)
  SELECT CAST(COALESCE(SUM(ra * cb), 0) AS DECIMAL(38,0)) AS pe_num
  FROM row_m JOIN col_m ON a = b
)
SELECT n_items, n_agree, pe_num,
       n_agree / CAST(n_items AS DOUBLE) AS po,
       CAST(pe_num AS DOUBLE)
         / CAST(CAST(n_items AS HUGEINT) * n_items AS DOUBLE) AS pe,
       CASE WHEN CAST(n_items AS HUGEINT) * n_items
                 - CAST(pe_num AS HUGEINT) <> 0 THEN
         CAST(CAST(n_items AS HUGEINT) * n_agree
              - CAST(pe_num AS HUGEINT) AS DOUBLE)
           / CAST(CAST(n_items AS HUGEINT) * n_items
                  - CAST(pe_num AS HUGEINT) AS DOUBLE)
       END AS kappa
FROM tot CROSS JOIN pe
"""


@_q("lang_id_kappa", _lang_kappa_oracle())
def lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement of the marker-argmax language ID
    with the labeled lang column (`quality.cohens_kappa`): kappa as
    one IEEE division of exact BIGINTs — (n·agree − Σ row·col) /
    (n² − Σ row·col). One projection + one cell hash agg; everything
    after is marginal math over the ≤|langs|² matrix."""
    from ..operators.quality import cohens_kappa

    docs = load(spark, sf_dir, "documents").select("lang", "text")
    pred = TX.lang_scores(docs, "text").select("lang", "predicted_lang")
    return cohens_kappa(pred, "lang", "predicted_lang")


# ---------------------------------------------------------------------------
# Matthews correlation (operators/quality.matthews_corr) — the
# imbalance-robust binary eval, on the is-English detector.
# ---------------------------------------------------------------------------

def _lang_mcc_oracle() -> str:
    hit_cols, prev_b = _lang_argmax_fold_sql()
    d = lambda c: f"CAST({c} AS DOUBLE)"  # noqa: E731
    return f"""
WITH h AS (
  SELECT doc_id, lang,
  {hit_cols}
  FROM documents
),
pred AS (
  SELECT (lang = 'en') AS t, ({prev_b} = 'en') AS p FROM h
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS tn,
    CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS fp,
    CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM pred
)
SELECT tp, tn, fp, fn,
       CASE WHEN ({d('tp')} + {d('fp')}) * ({d('tp')} + {d('fn')})
                 * ({d('tn')} + {d('fp')}) * ({d('tn')} + {d('fn')}) > 0
       THEN ({d('tp')} * {d('tn')} - {d('fp')} * {d('fn')})
            / sqrt(({d('tp')} + {d('fp')}) * ({d('tp')} + {d('fn')})
                   * ({d('tn')} + {d('fp')}) * ({d('tn')} + {d('fn')}))
       END AS mcc
FROM c
"""


@_q("lang_id_mcc", _lang_mcc_oracle())
def lang_id_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC of the is-English detector (`quality.matthews_corr`):
    exact BIGINT confusion counts from ONE map-side-combined
    aggregate, products in fixed-order doubles (long·long wraps past
    n ≈ 3·10⁹), one correctly-rounded IEEE sqrt."""
    from ..operators.quality import matthews_corr

    docs = load(spark, sf_dir, "documents").select("lang", "text")
    pred = TX.lang_scores(docs, "text").select(
        (F.col("lang") == "en").alias("t"),
        (F.col("predicted_lang") == "en").alias("p"),
    )
    return matthews_corr(pred, "t", "p")


# ---------------------------------------------------------------------------
# Vocabulary richness per source (operators/text.vocab_richness) —
# Chao1 + Simpson concentration, the data-card linguistics row.
# ---------------------------------------------------------------------------

_VOCAB_RICHNESS_ORACLE = """
WITH tf AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT source, unnest(str_split(text, ' ')) AS term FROM documents
  )
  GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(SUM(tf * (tf - 1)) AS BIGINT) AS rep2
  FROM tf GROUP BY 1
)
SELECT source, n_tokens, n_types, f1, f2,
       n_types + (f1 * (f1 - 1)) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
       CASE WHEN n_tokens >= 2 THEN
         rep2 / CAST(n_tokens * (n_tokens - 1) AS DOUBLE)
       END AS simpson
FROM agg
ORDER BY source
"""


@_q("vocab_richness", _VOCAB_RICHNESS_ORACLE)
def vocab_richness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness (`text.vocab_richness`): token/
    type counts, hapax/doubleton frequencies, bias-corrected Chao1,
    Simpson token concentration — exact BIGINT sums, one IEEE division
    per statistic. One map-side-combined (source, term) aggregate and
    one source aggregate; the vocabulary-sized frame never leaves the
    aggregation."""
    from ..operators.text import vocab_richness

    docs = load(spark, sf_dir, "documents")
    return vocab_richness(docs, "source", "text").orderBy("source")


# ---------------------------------------------------------------------------
# Inference batching padding waste (operators/sampling.
# batch_padding_report) — arrival-order vs length-sorted batching.
# ---------------------------------------------------------------------------

_PADDING_ORACLE = """
WITH d AS (
  SELECT doc_id AS id, CAST(len(str_split(text, ' ')) AS BIGINT) AS len
  FROM documents
),
r1 AS (
  SELECT len, row_number() OVER (ORDER BY id) AS r FROM d
),
b1 AS (
  SELECT (r - 1) // 32 AS b, CAST(COUNT(*) AS BIGINT) AS n,
         MAX(len) AS mx, CAST(SUM(len) AS BIGINT) AS s
  FROM r1 GROUP BY 1
),
a1 AS (
  SELECT 'arrival' AS strategy,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(s) AS BIGINT) AS total_tokens,
         CAST(SUM(mx * n - s) AS BIGINT) AS padded_slots,
         CAST(SUM(mx * n - s) AS DOUBLE)
           / CAST(SUM(mx * n) AS DOUBLE) AS pad_ratio
  FROM b1
),
r2 AS (
  SELECT len, row_number() OVER (ORDER BY len, id) AS r FROM d
),
b2 AS (
  SELECT (r - 1) // 32 AS b, CAST(COUNT(*) AS BIGINT) AS n,
         MAX(len) AS mx, CAST(SUM(len) AS BIGINT) AS s
  FROM r2 GROUP BY 1
),
a2 AS (
  SELECT 'length_sorted' AS strategy,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(SUM(s) AS BIGINT) AS total_tokens,
         CAST(SUM(mx * n - s) AS BIGINT) AS padded_slots,
         CAST(SUM(mx * n - s) AS DOUBLE)
           / CAST(SUM(mx * n) AS DOUBLE) AS pad_ratio
  FROM b2
)
SELECT * FROM a1 UNION ALL SELECT * FROM a2
ORDER BY strategy
"""


@_q("padding_efficiency", _PADDING_ORACLE)
def padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-cost A/B (`sampling.batch_padding_report`): padding
    waste of fixed-32 batches in arrival order vs length-sorted order.
    Per strategy ONE ranked_cumsum range exchange + a batch hash agg +
    a 1-row fold — exact BIGINT slot accounting, one IEEE ratio."""
    from ..operators.sampling import batch_padding_report

    docs = load(spark, sf_dir, "documents")
    return batch_padding_report(
        docs, "doc_id", F.size(F.split(F.col("text"), " ")), 32
    ).orderBy("strategy")


# ---------------------------------------------------------------------------
# Positional phrase search (operators/text.phrase_match_counts) — the
# adjacency retrieval BM25's bag-of-words can't express.
# ---------------------------------------------------------------------------

PHRASE = ("spark", "merge")

_PHRASE_ORACLE = f"""
WITH ps AS (
  SELECT doc_id,
         generate_subscripts(str_split(text, ' '), 1) AS tpos,
         unnest(str_split(text, ' ')) AS w
  FROM documents
),
m AS (
  SELECT a.doc_id, a.tpos - 1 AS start
  FROM ps a JOIN ps b
    ON a.doc_id = b.doc_id AND b.tpos = a.tpos + 1
  WHERE a.w = '{PHRASE[0]}' AND b.w = '{PHRASE[1]}'
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(start) AS BIGINT) AS first_pos
FROM m GROUP BY 1 ORDER BY doc_id
"""


@_q("phrase_search", _PHRASE_ORACLE)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing the exact consecutive phrase
    (`text.phrase_match_counts`): filtered posexplode (only the
    phrase's own postings shuffle) + one (doc, start) hash join per
    additional token; overlapping matches count."""
    docs = load(spark, sf_dir, "documents")
    return TX.phrase_match_counts(
        docs, "doc_id", "text", PHRASE
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Vocabulary truncation coverage curve (operators/text.vocab_coverage)
# — the tokenizer-sizing diagnostic: share of corpus tokens a top-V
# vocabulary covers. Checkpoints (5, 10, 20, 50) bracket the synthetic
# 31-type vocabulary so the curve bends AND the V > |vocab| clamp is
# exercised at every SF.
# ---------------------------------------------------------------------------

VOCAB_COVERAGE_SIZES = (5, 10, 20, 50)

_VOCAB_COVERAGE_ORACLE = f"""
WITH tf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT unnest(str_split(text, ' ')) AS term FROM documents)
  GROUP BY 1
),
r AS (
  SELECT tf, row_number() OVER (ORDER BY tf DESC, term ASC) AS rn,
         SUM(tf) OVER (ORDER BY tf DESC, term ASC) AS cum
  FROM tf
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(tf) AS BIGINT) AS total
  FROM tf
)
SELECT CAST(v AS BIGINT) AS vocab_size,
       LEAST(CAST(v AS BIGINT), n_terms) AS n_terms_in_vocab,
       CAST(MAX(CASE WHEN rn <= v THEN cum END) AS BIGINT)
         AS covered_tokens,
       total AS total_tokens,
       CAST(MAX(CASE WHEN rn <= v THEN cum END) AS DOUBLE)
         / CAST(total AS DOUBLE) AS coverage
FROM r CROSS JOIN tot
CROSS JOIN (VALUES {", ".join(f"({v})" for v in VOCAB_COVERAGE_SIZES)})
  AS vv(v)
GROUP BY v, n_terms, total
ORDER BY vocab_size
"""


@_q("vocab_coverage_curve", _VOCAB_COVERAGE_ORACLE)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve at fixed vocab checkpoints
    (`text.vocab_coverage`): one term hash agg, ONE ranked_cumsum
    range exchange over the VOCABULARY (never the corpus), one 1-row
    conditional fold emitting every checkpoint, |V|-literal unpivot.
    Coverage is a single IEEE division of exact BIGINTs."""
    from ..operators.text import vocab_coverage

    docs = load(spark, sf_dir, "documents")
    return vocab_coverage(
        docs, "text", vocab_sizes=VOCAB_COVERAGE_SIZES
    ).orderBy("vocab_size")


# ---------------------------------------------------------------------------
# Readability screens (operators/text.readability_scores) — Flesch
# reading ease + FK grade, vowel-group syllable proxy; constants
# string-cast in the oracle (bare decimal literals parse as DECIMAL in
# DuckDB and drift an ulp on conversion).
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = """
WITH base AS (
  SELECT doc_id,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+'))
                   AS BIGINT), 1) AS n_sentences,
         GREATEST(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT), 1) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(CAST('206.835' AS DOUBLE)
             - CAST('1.015' AS DOUBLE)
               * (n_words / CAST(n_sentences AS DOUBLE))
             - CAST('84.6' AS DOUBLE)
               * (n_syllables / CAST(n_words AS DOUBLE)), 6) AS flesch,
       ROUND(CAST('0.39' AS DOUBLE)
               * (n_words / CAST(n_sentences AS DOUBLE))
             + CAST('11.8' AS DOUBLE)
               * (n_syllables / CAST(n_words AS DOUBLE))
             - CAST('15.59' AS DOUBLE), 6) AS fk_grade
FROM base ORDER BY doc_id
"""


@_q("readability_scores", _READABILITY_ORACLE)
def readability_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Flesch / FK-grade (`text.readability_scores`): three
    regexp counts per row, fixed-order IEEE score expressions — pure
    projection, zero shuffle."""
    docs = load(spark, sf_dir, "documents")
    return TX.readability_scores(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence (operators/text.source_unigram_kl)
# — lexical atypicality vs the corpus; ngramlm libm policy (one
# micro-rounded ln per vocabulary cell).
# ---------------------------------------------------------------------------

_UNIGRAM_KL_ORACLE = """
WITH cells AS (
  SELECT source AS g, term, CAST(COUNT(*) AS BIGINT) AS tf_gt
  FROM (SELECT source, unnest(str_split(text, ' ')) AS term
        FROM documents)
  GROUP BY 1, 2
),
tm AS (SELECT term, CAST(SUM(tf_gt) AS BIGINT) AS tf_t
       FROM cells GROUP BY 1),
gm AS (SELECT g, CAST(SUM(tf_gt) AS BIGINT) AS n_g,
              CAST(COUNT(*) AS BIGINT) AS n_types
       FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(tf_t) AS BIGINT) AS n FROM tm),
terms AS (
  SELECT g, n_g, n_types,
         tf_gt * CAST(ROUND(ln(
           (CAST(tf_gt AS DOUBLE) * CAST(n AS DOUBLE))
           / (CAST(n_g AS DOUBLE) * CAST(tf_t AS DOUBLE))
         ) * 1000000) AS BIGINT) AS contrib
  FROM cells JOIN tm USING (term) JOIN gm USING (g) CROSS JOIN tot
)
SELECT g AS source, n_g AS n_tokens, n_types,
       CAST(SUM(contrib) AS BIGINT)
         / (CAST(n_g AS DOUBLE) * 1000000) AS kl_nats
FROM terms GROUP BY g, n_g, n_types
ORDER BY source
"""


@_q("source_unigram_kl", _UNIGRAM_KL_ORACLE)
def source_unigram_kl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions
    (`text.source_unigram_kl`): one (source, term) map-side-combined
    agg, vocabulary-sized marginal joins, one micro-rounded ln per
    cell (libm policy), one IEEE division per source."""
    docs = load(spark, sf_dir, "documents")
    return TX.source_unigram_kl(docs, "source", "text").orderBy("source")


# ---------------------------------------------------------------------------
# m-estimate target encoding (operators/features.m_estimate_encode) —
# smoothed per-source English share, the high-cardinality categorical
# feature recipe (Micci-Barreca 2001).
# ---------------------------------------------------------------------------

_MEST_ORACLE = """
WITH lab AS (
  SELECT source, CAST(lang = 'en' AS INT) AS y FROM documents
),
per_cat AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM lab GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(y) AS BIGINT) AS pp
  FROM lab
)
SELECT source, n, pos,
       (pos + 20 * (pp / CAST(nn AS DOUBLE))) / CAST(n + 20 AS DOUBLE)
         AS enc
FROM per_cat CROSS JOIN tot
ORDER BY source
"""


@_q("source_english_encoding", _MEST_ORACLE)
def source_english_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed per-source English share by m-estimate target encoding
    (`features.m_estimate_encode`, m=20): small sources shrink toward
    the corpus prior, large ones approach their raw rate. Exact BIGINT
    counts; the prior ratio and blend are single fixed-order IEEE
    expressions mirrored in the oracle. One category hash agg + a
    1-row prior fold."""
    from ..operators.features import m_estimate_encode

    docs = load(spark, sf_dir, "documents").select(
        "source", (F.col("lang") == "en").alias("is_en")
    )
    return m_estimate_encode(docs, "source", "is_en", m=20).orderBy(
        "source"
    )


# ---------------------------------------------------------------------------
# Dedup threshold-tuning curve — how many near-dup pairs (and how many
# documents) a given est-Jaccard cutoff would implicate, per candidate
# threshold. The artifact you read BEFORE committing a dedup τ.
# ---------------------------------------------------------------------------

def _dedup_curve_oracle() -> str:
    return f"""
WITH p AS ({_minhash_oracle()}),
lv AS (
  SELECT doc_a, doc_b, CAST(x AS INT) AS thr
  FROM (SELECT doc_a, doc_b, CAST(ROUND(est_jaccard * 8, 0) AS INT) AS a8
        FROM p),
       (SELECT unnest(range(1, 9)) AS x)
  WHERE x <= a8
),
np AS (
  SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM lv GROUP BY 1
),
nd AS (
  SELECT thr, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_touched
  FROM (
    SELECT thr, doc_a AS d FROM lv
    UNION ALL SELECT thr, doc_b FROM lv
  ) GROUP BY 1
)
SELECT np.thr AS agree_eighths,
       np.thr / 8.0 AS est_threshold,
       np.n_pairs, nd.n_docs_touched
FROM np JOIN nd ON np.thr = nd.thr
ORDER BY agree_eighths
"""


@_q("dedup_threshold_curve", _dedup_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning curve over the committed minhash-LSH candidate
    pairs: for each candidate est-Jaccard cutoff k/8, the pairs and
    distinct documents a dedup pass at that τ would implicate
    (cumulative by construction — a pair at agreement k serves every
    threshold ≤ k, a BOUNDED ≤8-way fan-out). Two 8-row aggregates
    joined on the threshold; the exploded pair frame is PERSISTED
    because both aggregates read it — without the pin each would
    re-run the whole shingle/signature pipeline over the corpus."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2, shingle_n=3
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("est_jaccard") * 8, 0).cast("int").alias("__a8"),
    )
    lv = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(F.sequence(F.lit(1), F.col("__a8"))).alias("thr"),
        # lifecycle: the session owner clears cache between queries
    ).persist()
    np_ = lv.groupBy("thr").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    nd = (
        lv.select("thr", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("thr")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_touched"))
    )
    return (
        np_.join(nd, "thr")
        .select(
            F.col("thr").alias("agree_eighths"),
            (F.col("thr") / 8.0).alias("est_threshold"),
            "n_pairs",
            "n_docs_touched",
        )
        .orderBy("agree_eighths")
    )


# ---------------------------------------------------------------------------
# Exact Spearman rank correlation (operators/distsort.spearman_corr) —
# marker hits vs document length: the monotone-association eval.
# ---------------------------------------------------------------------------

def _spearman_oracle() -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH r AS (
  SELECT CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS x,
         CAST(n_chars AS BIGINT) AS y
  FROM documents
),
cx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
mx AS (
  SELECT x, 2 * SUM(cnt) OVER (ORDER BY x) - cnt + 1 AS rx FROM cx
),
cy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM r GROUP BY 1),
my AS (
  SELECT y, 2 * SUM(cnt) OVER (ORDER BY y) - cnt + 1 AS ry FROM cy
),
j AS (
  SELECT CAST(rx AS HUGEINT) AS rx, CAST(ry AS HUGEINT) AS ry
  FROM r JOIN mx USING (x) JOIN my USING (y)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
         SUM(rx * ry) AS sxy
  FROM j
)
SELECT n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS rho
FROM agg
"""


@_q("lang_marker_spearman", _spearman_oracle())
def lang_marker_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware Spearman correlation between English-marker hit
    counts and document length (`distsort.spearman_corr`): doubled
    midranks off one range exchange per variable, DECIMAL(38,0)
    moment sums (associative), one double cast per exact integer and
    two CORRECTLY-ROUNDED IEEE sqrts — engine-exact end to end."""
    from ..operators.distsort import spearman_corr

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        F.col("n_chars").cast("long").alias("len"),
    )
    return spearman_corr(scored, "s", "len")


# ---------------------------------------------------------------------------
# IVF-PQ composite search (operators/pq.ivf_pq_topk) — the standard
# production ANN index: IVF cell routing x PQ ADC scoring. Oracle
# composes the committed IVF Lloyd's chain with the committed PQ
# training chain (PQ CTE names prefixed to avoid collisions).
# ---------------------------------------------------------------------------

def _ivf_pq_oracle(topk: int = 3) -> str:
    import re as _re

    from ..operators import pq as PQ

    ivf_parts = _ivf_train_ctes()  # c, cent0..2, assign0/1, assignF
    pq_parts = PQ.pq_training_sql_prefix()  # WITH c, sub, lowk, cent*, a*
    # drop PQ's duplicate `c` CTE (identical to the IVF chain's) and
    # prefix its cent* family (per-subspace seeds ≠ IVF centroids)
    pq_parts = pq_parts[1:]
    pq_parts = [
        _re.sub(r"\bcent(\d+)\b", r"pcent\1", p) for p in pq_parts
    ]
    scale = PQ.SCALE
    parts = ivf_parts + pq_parts
    parts[0] = "WITH " + parts[0]
    parts.append(
        "q AS (SELECT vec_id, cluster AS qcl FROM assignF WHERE vec_id < 5)"
    )
    parts.append(f"""qtab AS (
  SELECT qs.vid AS qid, qs.s, pcent1.cent_id AS code_val, q.qcl AS cell,
         CAST(ROUND(list_dot_product(qs.sv, pcent1.cv) * {scale})
              AS BIGINT) AS ds
  FROM sub qs
  JOIN pcent1 ON qs.s = pcent1.s
  JOIN q ON q.vec_id = qs.vid
)""")
    parts.append("""ncode AS (
  SELECT aF.vid AS nid, aF.s, aF.cluster AS code_val,
         av.cluster AS cell
  FROM aF JOIN assignF av ON av.vec_id = aF.vid
)""")
    parts.append("""scored AS (
  SELECT qid, nid, CAST(SUM(ds) AS BIGINT) AS approx_dot_scaled
  FROM ncode JOIN qtab ON ncode.s = qtab.s
                      AND ncode.code_val = qtab.code_val
                      AND ncode.cell = qtab.cell
  WHERE qid <> nid GROUP BY qid, nid
)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT qid AS query_id, nid AS neighbor_id, approx_dot_scaled, rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY approx_dot_scaled DESC, nid ASC
  ) AS rank FROM scored
) WHERE rank <= {topk}
ORDER BY query_id, rank
"""
    )


@_q("ivf_pq_topk", _ivf_pq_oracle())
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (`pq.ivf_pq_topk`): queries route to their
    IVF cell (committed train-once codebook fixtures for BOTH index
    parts) and the ADC scan keys on (subspace, code, cell) — per-query
    work is cell-sized codes, never corpus vectors. The oracle
    retrains both chains from scratch in SQL, so stale fixtures
    hash-mismatch immediately. SEARCH-ONLY path: codes and cells come
    from committed fixtures (`pq_codes_fixture` / `ivf_cells_fixture`)
    — the r08 rehearsal's 6.2×/10× slope was this query re-encoding
    the corpus per call; with the index as a build artifact the
    per-call work is query-cell-sized."""
    from ..operators import pq as PQ

    emb = load(spark, sf_dir, "embeddings")
    cb_pq = pq_codebook_fixture(spark, sf_dir)
    codes = pq_codes_fixture(spark, sf_dir)
    cells = ivf_cells_fixture(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return PQ.ivf_pq_topk(queries, codes, cb_pq, cells).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# Cramér's V (operators/quality.cramers_v) — source × lang association
# strength, the normalized effect size next to the chi-square tests.
# ---------------------------------------------------------------------------

_CRAMERS_ORACLE = """
WITH cells AS (
  SELECT source AS x, lang AS y, CAST(COUNT(*) AS BIGINT) AS obs
  FROM documents GROUP BY 1, 2
),
rows_ AS (SELECT x, CAST(SUM(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
cols_ AS (SELECT y, CAST(SUM(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(obs) AS BIGINT) AS n_tot,
         CAST(COUNT(DISTINCT x) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT y) AS BIGINT) AS n_cols
  FROM cells
),
contrib AS (
  SELECT (CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)
           - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
         * (CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)
           - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE))
         / (CAST(n_tot AS DOUBLE) * row_tot * col_tot) AS c,
         CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
           / CAST(n_tot AS DOUBLE) AS rc_over_n,
         n_tot, n_rows, n_cols
  FROM cells JOIN rows_ USING (x) JOIN cols_ USING (y) CROSS JOIN tot
)
SELECT ANY_VALUE(n_tot) AS n,
       ANY_VALUE(n_rows) AS n_rows,
       ANY_VALUE(n_cols) AS n_cols,
       CAST(SUM(CAST(ROUND(c * 1e6, 0) AS BIGINT))
            + ANY_VALUE(n_tot) * 1000000
            - SUM(CAST(ROUND(rc_over_n * 1e6, 0) AS BIGINT))
            AS DOUBLE) / 1e6 AS chi2,
       CASE WHEN LEAST(ANY_VALUE(n_rows), ANY_VALUE(n_cols)) > 1 THEN
         sqrt(CAST(SUM(CAST(ROUND(c * 1e6, 0) AS BIGINT))
                   + ANY_VALUE(n_tot) * 1000000
                   - SUM(CAST(ROUND(rc_over_n * 1e6, 0) AS BIGINT))
                   AS DOUBLE) / 1e6
              / CAST(ANY_VALUE(n_tot)
                     * (LEAST(ANY_VALUE(n_rows), ANY_VALUE(n_cols)) - 1)
                     AS DOUBLE))
       END AS v
FROM contrib
"""


@_q("lang_source_cramers_v", _CRAMERS_ORACLE)
def lang_source_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V of the source × lang contingency
    (`quality.cramers_v`): the committed chi-square contribution
    spelling (double-cast factors, micro-rounded cross-cell sum) plus
    one correctly-rounded sqrt for the normalized effect size."""
    from ..operators.quality import cramers_v

    docs = load(spark, sf_dir, "documents")
    return cramers_v(docs, "source", "lang")


# ---------------------------------------------------------------------------
# Wilson lower bounds (operators/quality.wilson_lower_bounds) — rank
# sources by the WORST Gopher keep rate the data still supports.
# ---------------------------------------------------------------------------

def _wilson_oracle() -> str:
    z = 1.959963984540054
    # string-cast double literals: a bare decimal literal parses as
    # DECIMAL in DuckDB and its decimal->double conversion is NOT the
    # shortest-repr round-trip (one-ulp drift measured); CAST('..' AS
    # DOUBLE) is exact. Success flag = the committed text quality
    # score (the all-screens Gopher conjunction keeps 0 synthetic
    # docs — a degenerate Wilson demo).
    zl = f"CAST('{z}' AS DOUBLE)"
    zz = f"CAST('{z * z}' AS DOUBLE)"
    quality = f"""CASE WHEN len(str_split(text, ' ')) >= 20
        AND len(str_split(text, ' ')) <= 95
        AND CAST(len(list_filter(str_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS DOUBLE)
              / len(str_split(text, ' ')) < 0.5
        AND CAST(length(replace(text, ' ', '')) AS DOUBLE)
              / len(str_split(text, ' ')) >= 2.0
       THEN 1 ELSE 0 END"""
    return f"""
WITH lab AS (
  SELECT source, {quality} AS keep FROM documents
),
agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(keep) AS BIGINT) AS successes
  FROM lab GROUP BY 1
)
SELECT source, n, successes,
       successes / CAST(n AS DOUBLE) AS p_hat,
       (successes / CAST(n AS DOUBLE)
         + {zz} / (2 * CAST(n AS DOUBLE))
         - {zl} * sqrt(successes / CAST(n AS DOUBLE)
                      * (1 - successes / CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      + {zz}
                        / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
       / (1 + {zz} / CAST(n AS DOUBLE)) AS lb
FROM agg
ORDER BY source
"""


@_q("source_keep_wilson", _wilson_oracle())
def source_keep_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Wilson lower bound on the text quality-score rate
    (`quality.wilson_lower_bounds`): the rank-by-confidence quality
    report — a small source with a lucky streak can't outrank a large
    one. Exact counts; the bound is one fixed IEEE expression with a
    correctly-rounded sqrt, mirrored literally in the oracle (double
    constants injected as string-casts — DuckDB parses bare decimal
    literals as DECIMAL and drifts an ulp on conversion)."""
    from ..operators.quality import wilson_lower_bounds

    docs = load(spark, sf_dir, "documents")
    keep = docs.select(
        "source", (TX.quality_score("text") == 1).alias("kept")
    )
    return wilson_lower_bounds(keep, "source", "kept").orderBy("source")


# ---------------------------------------------------------------------------
# End-to-end budgeted corpus: water-filled per-source token quotas
# DRAWN (budget_waterfill ∘ token_budget_sample_df) — the full "spend
# 60% of the corpus optimally" pipeline, reported at source grain.
# ---------------------------------------------------------------------------

_WATERFILL_DRAW_ORACLE = """
WITH n AS (
  SELECT source,
         CAST(SUM(CAST(len(str_split(text, ' ')) AS BIGINT)) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(n_tokens) * 6 // 10 AS BIGINT) AS b
  FROM n
),
r AS (
  SELECT source, n_tokens,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT) AS i,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source) AS BIGINT) AS s
  FROM n
),
lvl AS (
  SELECT
    COALESCE(MAX(CASE WHEN (s - n_tokens) + n_tokens * (m - i + 1) <= b
                      THEN i END), 0) AS j,
    COALESCE(MAX(CASE WHEN (s - n_tokens) + n_tokens * (m - i + 1) <= b
                      THEN s END), 0) AS sj,
    ANY_VALUE(m) AS m, ANY_VALUE(b) AS b
  FROM r CROSS JOIN tot
),
alloc AS (
  SELECT source,
         CAST(CASE WHEN i <= j THEN n_tokens
              ELSE (b - sj) // (m - j)
                   + (CASE WHEN i <= j + (b - sj) % (m - j)
                           THEN 1 ELSE 0 END)
         END AS BIGINT) AS budget
  FROM r CROSS JOIN lvl
),
docs AS (
  SELECT source, doc_id,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS tc,
         SUM(CAST(len(str_split(text, ' ')) AS BIGINT)) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS cum
  FROM documents
),
kept AS (
  SELECT d.source, d.tc
  FROM docs d JOIN alloc a USING (source)
  WHERE d.cum - d.tc < a.budget
)
SELECT a.source, a.budget,
       CAST(COUNT(k.tc) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(SUM(k.tc), 0) AS BIGINT) AS tokens_kept
FROM alloc a LEFT JOIN kept k USING (source)
GROUP BY 1, 2
ORDER BY a.source
"""


@_q("waterfill_sampled_corpus", _WATERFILL_DRAW_ORACLE)
def waterfill_sampled_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full budgeted-corpus pipeline: water-fill 60% of the
    corpus's tokens across sources (`sampling.budget_waterfill`),
    then DRAW each source's quota in the deterministic md5 order
    (`sampling.token_budget_sample_df` — the frame-based composition
    point, no driver-side dict). Reported at source grain: quota,
    documents kept, tokens kept (boundary doc included, so overshoot
    < one document)."""
    from ..operators.sampling import budget_waterfill, token_budget_sample_df

    docs = load(spark, sf_dir, "documents").select(
        "source", "doc_id", TX.token_count("text").alias("__tc")
    )
    counts = docs.groupBy("source").agg(
        F.sum("__tc").cast("long").alias("n_tokens")
    )
    quotas = budget_waterfill(
        counts, "source", "n_tokens", budget_frac=(6, 10)
    ).select("source", F.col("alloc").alias("__budget"))
    kept = token_budget_sample_df(docs, "source", "doc_id", "__tc", quotas)
    per_src = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("__tc").cast("long").alias("tokens_kept"),
    )
    return (
        quotas.select("source", F.col("__budget").alias("budget"))
        .join(per_src, "source", "left")
        .select(
            "source",
            "budget",
            F.coalesce("n_docs_kept", F.lit(0).cast("long")).alias(
                "n_docs_kept"
            ),
            F.coalesce("tokens_kept", F.lit(0).cast("long")).alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha — multi-rater agreement with missing ratings
# (operators/quality.krippendorff_alpha)
# ---------------------------------------------------------------------------

def _krippendorff_oracle() -> str:
    hit_cols, prev_b = _lang_argmax_fold_sql()
    return f"""
WITH h AS (
  SELECT doc_id, lang, n_chars,
  {hit_cols}
  FROM documents
),
pred AS (
  SELECT doc_id, lang, n_chars, {prev_b} AS p FROM h
),
ratings AS (
  SELECT doc_id, 'label' AS rater, lang AS val FROM pred
  UNION ALL
  SELECT doc_id, 'markers' AS rater, p AS val FROM pred
  UNION ALL
  SELECT doc_id, 'sparse' AS rater, p AS val FROM pred WHERE n_chars >= 400
),
v AS (SELECT doc_id, rater, val FROM ratings WHERE val IS NOT NULL),
m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY 1),
p AS (
  SELECT r.doc_id, r.rater, r.val, m.m
  FROM v r JOIN m ON r.doc_id = m.doc_id
  WHERE m.m >= 2
),
nc AS (SELECT val, CAST(COUNT(*) AS BIGINT) AS nc FROM p GROUP BY 1),
marg AS (
  SELECT CAST(SUM(nc) AS BIGINT) AS n_values,
         CAST(SUM(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS sum_nc2
  FROM nc
),
items AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_items FROM p),
-- L = lcm(1..R-1) = 2 for the R = 3 raters here; 2 // (m-1) is exact
dl AS (
  SELECT CAST(COALESCE(SUM(2 // (a.m - 1)), 0) AS HUGEINT) AS dl
  FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.rater <> b.rater
  WHERE a.val <> b.val
)
SELECT n_items, n_values,
  CAST(dl AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_values AS DOUBLE))
    AS do_rate,
  CAST(CAST(n_values AS HUGEINT) * n_values - sum_nc2 AS DOUBLE)
    / (CAST(n_values AS DOUBLE) * CAST(n_values - 1 AS DOUBLE)) AS de_rate,
  CASE WHEN CAST(n_values AS HUGEINT) * n_values - sum_nc2 <> 0 THEN
    1.0 - CAST(dl * (n_values - 1) AS DOUBLE)
        / CAST(2 * (CAST(n_values AS HUGEINT) * n_values - sum_nc2) AS DOUBLE)
  END AS alpha
FROM items CROSS JOIN marg CROSS JOIN dl
"""


@_q("krippendorff_lang", _krippendorff_oracle())
def krippendorff_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability of the language labels measured as Krippendorff's
    alpha (`quality.krippendorff_alpha`) across THREE raters with
    missing data — the agreement statistic kappa can't produce: rater
    'label' is the dataset lang column, 'markers' the canonical
    marker-argmax classifier, and 'sparse' the same classifier
    abstaining on short documents (n_chars < 400), so items carry 2 or
    3 ratings and the coincidence weights 1/(m_u−1) differ per item.
    Exact-integer pipeline (margins are exact counts; the fractional
    disagreement mass is scaled by L = lcm(1..R−1) into an integer);
    one IEEE division at the end."""
    from ..operators import quality as Q

    pred = TX.lang_scores(load(spark, sf_dir, "documents"), "text").select(
        "doc_id", "lang", "n_chars", "predicted_lang"
    )
    ratings = (
        pred.select(
            "doc_id",
            F.lit("label").alias("rater"),
            F.col("lang").alias("val"),
        )
        .unionByName(
            pred.select(
                "doc_id",
                F.lit("markers").alias("rater"),
                F.col("predicted_lang").alias("val"),
            )
        )
        .unionByName(
            pred.where(F.col("n_chars") >= 400).select(
                "doc_id",
                F.lit("sparse").alias("rater"),
                F.col("predicted_lang").alias("val"),
            )
        )
    )
    return Q.krippendorff_alpha(ratings, "doc_id", "rater", "val")


# ---------------------------------------------------------------------------
# Split-conformal calibration threshold (distsort.conformal_threshold)
# ---------------------------------------------------------------------------

_CONF_BUCKET_SQL = (
    "(((instr('0123456789abcdef', substr(md5(':' || doc_id), 1, 1)) - 1)"
    " * 16 + instr('0123456789abcdef', substr(md5(':' || doc_id), 2, 1)) - 1)"
    " * 16 + instr('0123456789abcdef', substr(md5(':' || doc_id), 3, 1)) - 1)"
    " * 16 + instr('0123456789abcdef', substr(md5(':' || doc_id), 4, 1)) - 1"
)

_CONFORMAL_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
    1.0 - CAST(len(list_filter(str_split(text, ' '),
                 w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS DOUBLE)
        / CAST(len(str_split(text, ' ')) + 1 AS DOUBLE) AS score,
    CAST(({_CONF_BUCKET_SQL}) % 2 AS BIGINT) AS half
  FROM documents
  WHERE lang = 'en'
),
cal AS (SELECT doc_id, score FROM scored WHERE half = 0),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
r AS (SELECT n_cal, ((n_cal + 1) * 90 + 99) // 100 AS rank_r FROM n),
ranked AS (
  SELECT score, row_number() OVER (ORDER BY score, doc_id) AS rn FROM cal
),
qhat AS (
  SELECT r.n_cal, r.rank_r, ranked.score AS qhat
  FROM r LEFT JOIN ranked ON ranked.rn = r.rank_r
),
test AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN s.score <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM scored s CROSS JOIN qhat q
  WHERE s.half = 1
)
SELECT q.n_cal, CAST(q.rank_r AS BIGINT) AS rank_r, q.qhat,
       t.n_test, t.n_covered,
       CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE) AS coverage
FROM qhat q CROSS JOIN test t
"""


@_q("conformal_lang_threshold", _CONFORMAL_ORACLE)
def conformal_lang_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the English-marker nonconformity
    score (`distsort.conformal_threshold`, α = 10%): q̂ is the
    ⌈(n+1)·0.9⌉-th smallest calibration score — the finite-sample-exact
    order statistic, never an interpolated quantile — and the held-out
    half reports its empirical coverage against that single threshold.
    Calibration/test halves split by the canonical md5 bucket (stable
    in doc_id). Nonconformity s = 1 − hits_en/(tokens+1): low when the
    doc looks English, deterministic rational per row."""
    from ..operators import distsort as DS
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents").where(F.col("lang") == "en")
    scored = docs.select(
        "doc_id",
        (
            F.lit(1.0)
            - TX.marker_hits(F.col("text"), TX.LANG_MARKERS["en"]).cast(
                "double"
            )
            / (TX.token_count(F.col("text")) + 1).cast("double")
        ).alias("score"),
        (SA.hash_bucket16("doc_id") % 2).alias("__half"),
    )
    cal = scored.where(F.col("__half") == 0)
    thr = DS.conformal_threshold(
        cal, "score", alpha_pct=10, tiebreak=F.col("doc_id")
    )
    test = scored.where(F.col("__half") == 1).crossJoin(F.broadcast(thr))
    return test.agg(
        F.first("n_cal").alias("n_cal"),
        F.first("rank_r").alias("rank_r"),
        F.first("qhat").alias("qhat"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(F.when(F.col("score") <= F.col("qhat"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
    ).select(
        "n_cal",
        "rank_r",
        "qhat",
        "n_test",
        "n_covered",
        (F.col("n_covered").cast("double") / F.col("n_test").cast("double"))
        .alias("coverage"),
    )


# ---------------------------------------------------------------------------
# MAP@k — mean average precision (distsort.map_at_k)
# ---------------------------------------------------------------------------

def _map_oracle(k: int = 10) -> str:
    en = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS["en"])
    return f"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(list_filter(str_split(text, ' '),
              w -> w IN ({en}))) AS BIGINT) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
ranked AS (
  SELECT source, y,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY s DESC, doc_id ASC
         ) AS rk,
         SUM(y) OVER (
           PARTITION BY source ORDER BY s DESC, doc_id ASC
         ) AS cum
  FROM scored
),
terms AS (
  SELECT source, y,
    CASE WHEN y = 1 AND rk <= {k}
      THEN CAST(ROUND(CAST(cum AS DOUBLE) / CAST(rk AS DOUBLE) * 1e6)
           AS BIGINT)
      ELSE CAST(0 AS BIGINT) END AS t
  FROM ranked
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(y) AS BIGINT) AS n_rel,
       CAST(SUM(t) AS BIGINT) AS ap_micro,
       CASE WHEN SUM(y) > 0 THEN
         CAST(SUM(t) AS DOUBLE)
           / (CAST(least(SUM(y), {k}) AS DOUBLE) * 1e6) END AS ap
FROM terms GROUP BY source ORDER BY source
"""


@_q("lang_marker_map", _map_oracle())
def lang_marker_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source MAP@10 of the English-marker ranking against the
    `lang = 'en'` label (`distsort.map_at_k`) — the order-sensitive
    binary-relevance metric completing the ranking-eval family
    (AUC / PR / RR / nDCG / MAP). Each precision-at-hit term is
    micro-rounded BIGINT before the associative sum; AP is one IEEE
    division by the TREC min(R, k) normalizer."""
    from ..operators import distsort as DSORT11

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        "doc_id",
        TX.marker_hits("text", TX.LANG_MARKERS["en"]).alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return DSORT11.map_at_k(
        scored, "source", "s", "doc_id", "y", k=10
    ).orderBy("source")


# ---------------------------------------------------------------------------
# SFT loss-mask spans (text.loss_mask_spans)
# ---------------------------------------------------------------------------

_LOSS_MASK_ORACLE = """
WITH t AS (
  SELECT user_id AS conv_id, ts, event_id, event_type,
         CAST(length('<|' || event_type || '|>' || props) AS BIGINT) AS len
  FROM events
)
SELECT conv_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY conv_id ORDER BY ts, event_id) - 1 AS BIGINT) AS turn_idx,
  event_type AS role,
  CAST(SUM(len + 1) OVER (
    PARTITION BY conv_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) - (len + 1) AS BIGINT) AS start_char,
  CAST(SUM(len + 1) OVER (
    PARTITION BY conv_id ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS end_char,
  event_type NOT IN ('purchase', 'signup') AS masked
FROM t
"""


@_q("loss_mask_spans", _LOSS_MASK_ORACLE)
def loss_mask_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn loss-mask char spans for the assembled conversations
    (`text.loss_mask_spans`): loss only on the 'purchase'/'signup'
    turns (the assistant-side analog), every other turn masked. The
    offsets are exact prefix sums of the SAME rendering expression
    `chat_transcripts` assembles, so a trainer can slice the assembled
    doc directly (pytest verifies the slices reproduce the turns)."""
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("conv_id"),
        "ts",
        "event_id",
        "event_type",
        "props",
    )
    return TX.loss_mask_spans(
        ev,
        "conv_id",
        ["ts", "event_id"],
        "event_type",
        "props",
        train_roles=("purchase", "signup"),
    )


# ---------------------------------------------------------------------------
# Fill-in-the-middle transform (text.fim_split)
# ---------------------------------------------------------------------------

def _fim_bucket_sql(salt: str) -> str:
    h = f"md5('{salt}:' || doc_id)"
    return (
        f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
    )


_FIM_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         CAST(({_fim_bucket_sql("fim1")}) AS BIGINT) AS b1,
         CAST(({_fim_bucket_sql("fim2")}) AS BIGINT) AS b2
  FROM documents
  WHERE length(text) >= 30
),
cuts AS (
  SELECT doc_id, text, n,
         1 + (b1 % (n - 2)) AS cut1,
         (1 + (b1 % (n - 2))) + 1 + (b2 % (n - (1 + (b1 % (n - 2))) - 1))
           AS cut2
  FROM base
)
SELECT doc_id, n AS n_chars_doc,
       CAST(cut1 AS BIGINT) AS cut1, CAST(cut2 AS BIGINT) AS cut2,
       md5('<PRE>' || substr(text, 1, CAST(cut1 AS INT))
           || '<SUF>' || substr(text, CAST(cut2 + 1 AS INT),
                                 CAST(n - cut2 AS INT))
           || '<MID>' || substr(text, CAST(cut1 + 1 AS INT),
                                 CAST(cut2 - cut1 AS INT))) AS psm_md5
FROM cuts
"""


@_q("fim_transform", _FIM_ORACLE)
def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (`text.fim_split`):
    deterministic md5-bucket cut points, prefix-suffix-middle rendering
    pinned by md5 — the code-model infilling data op as a pure
    projection."""
    docs = load(spark, sf_dir, "documents")
    return TX.fim_split(docs, "doc_id", "text", min_chars=30)


# ---------------------------------------------------------------------------
# MinHash-LSH recall vs exact Jaccard truth (approximation honesty)
# ---------------------------------------------------------------------------

def _minhash_recall_oracle() -> str:
    sig_cols = ",\n    ".join(
        f"min(substr(md5('{j // 4}:' || shingle), {(j % 4) * 8 + 1}, 8)) AS h{j}"
        for j in range(8)
    )
    return f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
),
sig AS (
  SELECT doc_id,
    {sig_cols}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT *, md5(h0 || h1 || h2 || h3) AS band0,
            md5(h4 || h5 || h6 || h7) AS band1
  FROM sig
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1)
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth),
ncd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
nh AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM truth t SEMI JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT n_true_pairs, n_candidates, n_hits,
  CASE WHEN n_true_pairs > 0 THEN
    CAST(n_hits AS DOUBLE) / CAST(n_true_pairs AS DOUBLE) END AS recall
FROM nt CROSS JOIN ncd CROSS JOIN nh
"""


@_q("minhash_recall_report", _minhash_recall_oracle())
def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH candidate generator against the
    EXACT jaccard ≥ 0.5 truth — the approximation-honesty report for
    the dedup scale path (the ANN family has `ann_recall_report`; this
    is the lexical twin). Composes the two committed kernels: truth =
    `jaccard_pairs` (the verification kernel, exact), candidates =
    `lsh_candidate_pairs` (the 100 TB path); hits via one pair-keyed
    semi-join; counts exact, recall one IEEE division."""
    docs = load(spark, sf_dir, "documents")
    truth = D.jaccard_pairs(docs, "doc_id", "text", threshold=0.5).select(
        "doc_a", "doc_b"
    )
    cands = D.lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=2, shingle_n=3
    ).select("doc_a", "doc_b")
    n_true = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs")
    )
    n_cand = cands.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    n_hit = truth.join(cands, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_hits",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_hits").cast("double")
                / F.col("n_true_pairs").cast("double"),
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# In-engine naive-Bayes source classifier (operators/nbayes.py)
# ---------------------------------------------------------------------------

def _nb_bucket_sql() -> str:
    h = "md5('nb:' || doc_id)"
    return (
        f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
    )


_NB_CTES = f"""split AS (
  SELECT doc_id, source, text,
         CAST(({_nb_bucket_sql()}) % 4 AS BIGINT) = 0 AS is_test
  FROM documents
),
train_tok AS (
  SELECT source, unnest(str_split(text, ' ')) AS tok
  FROM split WHERE NOT is_test
),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz FROM train_tok),
cstat AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM train_tok GROUP BY 1
),
cdocs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM split WHERE NOT is_test GROUP BY 1
),
ntr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM split WHERE NOT is_test
),
cells AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM train_tok GROUP BY 1, 2
),
model AS (
  SELECT tok, c.source,
    CAST(ROUND(ln(CAST(cnt + 1 AS DOUBLE)
                  / CAST(n_tok + vsz AS DOUBLE)) * 1e9) AS BIGINT) AS lp
  FROM cells c JOIN cstat USING (source) CROSS JOIN v
),
classes AS (
  SELECT d.source,
    CAST(ROUND(ln(CAST(n_docs AS DOUBLE) / CAST(n_train AS DOUBLE)) * 1e9)
         AS BIGINT) AS prior,
    CAST(ROUND(ln(1.0 / CAST(n_tok + vsz AS DOUBLE)) * 1e9) AS BIGINT)
         AS dflt
  FROM cdocs d JOIN cstat USING (source) CROSS JOIN ntr CROSS JOIN v
),
test_tok AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok
  FROM split WHERE is_test
),
doclen AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM test_tok GROUP BY 1
),
obs AS (
  SELECT doc_id, m.source, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(lp) AS BIGINT) AS slp
  FROM test_tok tt JOIN model m ON tt.tok = m.tok GROUP BY 1, 2
),
scores AS (
  SELECT d.doc_id, c.source,
         c.prior + COALESCE(o.slp, 0)
           + (d.len - COALESCE(o.n_obs, 0)) * c.dflt AS sc
  FROM doclen d CROSS JOIN classes c
  LEFT JOIN obs o ON o.doc_id = d.doc_id AND o.source = c.source
),
pred AS (
  SELECT doc_id, source AS predicted FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY sc DESC, source ASC) AS rk
    FROM scores) WHERE rk = 1
),
conf AS (
  SELECT s.source, p.predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred p JOIN split s ON p.doc_id = s.doc_id GROUP BY 1, 2
),
acc AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN source = predicted THEN n END), 0)
              AS BIGINT) AS n_correct,
         CAST(SUM(n) AS BIGINT) AS n_test
  FROM conf
)"""

_NB_ORACLE = f"""
WITH {{_NB_CTES}}
SELECT source, predicted, n,
       CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE) AS accuracy
FROM conf CROSS JOIN acc
ORDER BY source, predicted
""".format(_NB_CTES=_NB_CTES)


@_q("nb_source_confusion", _NB_ORACLE)
def nb_source_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based curation, in-engine (`operators/nbayes.py`):
    fit a multinomial naive-Bayes source classifier on the md5-bucket
    75% train split, classify the held-out 25%, and report the
    confusion matrix + accuracy — the fastText-style "quality/domain
    classifier" step of an LLM pipeline with an exact-integer scoring
    contract (every ln is a micro-rounded model cell; document scores
    are exact bigint sums; argmax ties break by class name)."""
    from ..operators import nbayes as NB
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    split = docs.withColumn(
        "__is_test", (SA.hash_bucket16("doc_id", "nb") % 4) == 0
    )
    train = split.where(~F.col("__is_test"))
    test = split.where(F.col("__is_test"))
    model, classes = NB.nb_fit(train, "source", "text")
    pred = NB.nb_classify(test, "doc_id", "text", model, classes)
    conf = (
        pred.join(test.select("doc_id", "source"), "doc_id")
        .groupBy("source", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    acc = conf.agg(
        F.coalesce(
            F.sum(F.when(F.col("source") == F.col("predicted"), F.col("n"))),
            F.lit(0),
        )
        .cast("long")
        .alias("__n_correct"),
        F.sum("n").cast("long").alias("__n_test"),
    )
    return (
        conf.crossJoin(F.broadcast(acc))
        .select(
            "source",
            "predicted",
            "n",
            (
                F.col("__n_correct").cast("double")
                / F.col("__n_test").cast("double")
            ).alias("accuracy"),
        )
        .orderBy("source", "predicted")
    )


# ---------------------------------------------------------------------------
# Zipf power-law fit (text.zipf_fit)
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH tok AS (
  SELECT unnest(str_split(text, ' ')) AS tok FROM documents
),
cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS r FROM cnt
),
xy AS (
  SELECT c,
    CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1e9) AS BIGINT) AS x,
    CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT) AS y
  FROM ranked
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM xy
)
SELECT n_types, n_tokens,
  CASE WHEN CAST(n_types AS HUGEINT) * sxx - sx * sx <> 0 THEN
    CAST(CAST(n_types AS HUGEINT) * sxy - sx * sy AS DOUBLE)
      / CAST(CAST(n_types AS HUGEINT) * sxx - sx * sx AS DOUBLE) END
    AS slope
FROM s
"""


@_q("zipf_fit_report", _ZIPF_ORACLE)
def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token-frequency distribution
    (`text.zipf_fit`): OLS over the full (ln rank, ln count) cloud with
    exact-decimal sums of nano-rounded lns — natural text sits near
    −1; templated/synthetic corpora bend away. The corpus-shape
    diagnostic beside vocab_coverage_curve."""
    docs = load(spark, sf_dir, "documents")
    return TX.zipf_fit(docs, "text")


# ---------------------------------------------------------------------------
# Streaming drift monitor — stored histograms oracled
# (streaming/driftmon.py)
# ---------------------------------------------------------------------------

_DRIFT_BIN = "least(floor(value / 50), 9)"


def drift_store_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming drift monitor's histogram store as a committed
    fixture: a batch-partitioned (bin, n, batch_id) parquet built by a
    deterministic ingest — batch 0 = events before 2024-01-16, batch 0
    REPLAYED (exercising the per-epoch overwrite during the
    build), batch 1 = the rest. The stored histograms are exactly the
    two populations of `psi_value_drift`, so the probe's SQL twin
    recomputes them from the raw events and a duplicated/lost batch
    hash-mismatches immediately (the ann_index_store posture)."""
    from ..streaming import driftmon as DM

    def build(target: str) -> None:
        ev = load(spark, sf_dir, "events")
        cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
        bin_col = F.least(F.floor(F.col("value") / 50), F.lit(9).cast("long")).cast(
            "long"
        )
        DM.drift_ingest_batch(ev.where(F.col("ts") < cut), target, 0, bin_col)
        DM.drift_ingest_batch(ev.where(F.col("ts") < cut), target, 0, bin_col)
        DM.drift_ingest_batch(ev.where(F.col("ts") >= cut), target, 1, bin_col)

    return _store_fixture(spark, sf_dir, "drift_store", build)


_DRIFT_PROBE_ORACLE = f"""
WITH b AS (
  SELECT CAST({_DRIFT_BIN} AS BIGINT) AS bin,
         (ts >= TIMESTAMP '2024-01-16 00:00:00') AS side
  FROM events
),
cells AS (
  SELECT bin,
         CAST(COALESCE(SUM(CASE WHEN NOT side THEN 1 END), 0) AS BIGINT) AS n_r,
         CAST(COALESCE(SUM(CASE WHEN side THEN 1 END), 0) AS BIGINT) AS n_c
  FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_r) AS BIGINT) AS tr, CAST(SUM(n_c) AS BIGINT) AS tc
  FROM cells
),
terms AS (
  SELECT bin, n_r, n_c,
    CASE WHEN n_c > 0 AND n_r > 0 THEN
      CAST(ROUND((CAST(n_c AS DOUBLE) / CAST(tc AS DOUBLE)
                  - CAST(n_r AS DOUBLE) / CAST(tr AS DOUBLE))
        * ln((CAST(n_c AS DOUBLE) / CAST(tc AS DOUBLE))
             / (CAST(n_r AS DOUBLE) / CAST(tr AS DOUBLE))) * 1e12)
        AS BIGINT) END AS pc
  FROM cells CROSS JOIN tot
  WHERE n_r > 0 OR n_c > 0
)
SELECT CAST(1 AS BIGINT) AS batch_id,
  CAST(COALESCE(SUM(CASE WHEN pc IS NOT NULL THEN 1 END), 0) AS BIGINT)
    AS n_bins_common,
  CAST(COALESCE(SUM(CASE WHEN pc IS NULL THEN 1 END), 0) AS BIGINT)
    AS n_onesided_bins,
  CAST(COALESCE(SUM(pc), 0) AS DOUBLE) / 1e12 AS psi_total
FROM terms
"""


@_q("stream_drift_probe", _DRIFT_PROBE_ORACLE)
def stream_drift_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift read from the STREAMING-MAINTAINED histogram store
    (`streaming/driftmon.psi_from_store` over the committed two-batch
    fixture): verifies BOTH the maintained state (a replayed, lost, or
    double-counted batch shifts the stored histograms and
    hash-mismatches the from-raw-events twin) and the from-store PSI
    math — the monitor never re-scans history; the ≤|bins|-row stored
    histograms are its sufficient statistic."""
    from ..streaming import driftmon as DM

    store = drift_store_fixture(spark, sf_dir)
    return DM.psi_from_store(store, ref_batch=0)


# ---------------------------------------------------------------------------
# Quantile normalization across sources (distsort.quantile_normalize)
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
WITH rg AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars, doc_id) AS r,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ng
  FROM documents
),
ladder AS (
  SELECT n_chars AS v,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr
  FROM documents
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM documents)
SELECT r.doc_id, r.source, r.n_chars, l.v AS norm_value
FROM rg r CROSS JOIN n
JOIN ladder l
  ON l.gr = ((2 * r.r - 1) * nt + 2 * r.ng - 1) // (2 * r.ng)
"""


@_q("quantile_normalize_scores", _QNORM_ORACLE)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document lengths rank-mapped onto the GLOBAL length
    distribution (`distsort.quantile_normalize`) — the cross-source
    score harmonizer: a threshold on the normalized value treats every
    source's scale identically. Mid-rank quantile to percentile_disc
    target by pure integer arithmetic (⌈q·N⌉ as a bigint DIV), values
    SELECTED by rank, never interpolated."""
    from ..operators import distsort as DSORT12

    docs = load(spark, sf_dir, "documents")
    return DSORT12.quantile_normalize(docs, "source", "n_chars", "doc_id")


# ---------------------------------------------------------------------------
# T5 span-corruption transform (text.span_corruption)
# ---------------------------------------------------------------------------

def _t5_bucket_sql(key: str) -> str:
    h = f"md5('t5:' || {key})"
    return (
        f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
        f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
    )


_T5_ORACLE = f"""
WITH base AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
b2 AS (
  SELECT doc_id, toks, n,
    list_filter(range((n + 2) // 3),
      b -> ({_t5_bucket_sql("doc_id || ':' || b")}) < 9830) AS cb,
    range((n + 2) // 3) AS blocks
  FROM base
)
SELECT doc_id, n AS n_tokens,
  CAST(len(cb) AS BIGINT) AS n_corrupt_blocks,
  md5(array_to_string(flatten(list_transform(blocks, b ->
    CASE WHEN ({_t5_bucket_sql("doc_id || ':' || b")}) < 9830
      THEN ['<X_' || (list_position(cb, b) - 1) || '>']
      ELSE list_slice(toks, b * 3 + 1, b * 3 + 3) END)), ' '))
    AS inputs_md5,
  md5(COALESCE(array_to_string(flatten(list_transform(cb, b ->
    list_concat(['<X_' || (list_position(cb, b) - 1) || '>'],
                list_slice(toks, b * 3 + 1, b * 3 + 3)))), ' '), ''))
    AS targets_md5
FROM b2
"""


@_q("span_corruption_transform", _T5_ORACLE)
def span_corruption_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising objective (`text.span_corruption`, 3-token blocks,
    ~15% rate): sentinel-masked inputs + sentinel-prefixed targets,
    both pinned by md5 — the second pretraining-objective transform
    beside `fim_transform`, deterministic via md5 blocks (no RNG)."""
    docs = load(spark, sf_dir, "documents")
    return TX.span_corruption(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# Exact-k weighted sampling (sampling.weighted_topk_sample)
# ---------------------------------------------------------------------------

def _es_bucket32_sql(salt: str) -> str:
    def b16(s):
        h = f"md5('{s}:' || doc_id)"
        return (
            f"(((instr('0123456789abcdef', substr({h}, 1, 1)) - 1)"
            f" * 16 + instr('0123456789abcdef', substr({h}, 2, 1)) - 1)"
            f" * 16 + instr('0123456789abcdef', substr({h}, 3, 1)) - 1)"
            f" * 16 + instr('0123456789abcdef', substr({h}, 4, 1)) - 1"
        )

    return f"(({b16(salt)}) * 65536 + ({b16(salt + '2')}))"


_ES_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, n_chars,
    ln((CAST({_es_bucket32_sql("es")} AS DOUBLE) + 0.5) / 4294967296.0)
      / CAST(n_chars AS DOUBLE) AS s
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, CAST(rk AS BIGINT) AS rank FROM (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS rk
  FROM scored
) WHERE rk <= 50 ORDER BY rk
"""


@_q("weighted_exact_k_sample", _ES_ORACLE)
def weighted_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY 50 documents sampled without replacement with
    probability ∝ length (`sampling.weighted_topk_sample`, the
    deterministic Efraimidis–Spirakis draw): the hard-budget weighted
    draw that Bernoulli `quality_weighted_sample` can't guarantee.
    TakeOrdered selection; the rank window runs over the 50 survivor
    rows."""
    from pyspark.sql import Window

    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    top = SA.weighted_topk_sample(
        docs, "doc_id", F.col("n_chars"), k=50
    )
    w = Window.orderBy(F.col("__es_score").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "n_chars",
        F.row_number().over(w).cast("long").alias("rank"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Per-class F1 over the NB confusion (quality.per_class_prf)
# ---------------------------------------------------------------------------

_NB_F1_ORACLE = f"""
WITH {{ctes}},
tm AS (
  SELECT source AS class, CAST(SUM(n) AS BIGINT) AS row_n,
         CAST(COALESCE(SUM(CASE WHEN source = predicted THEN n END), 0)
              AS BIGINT) AS tp
  FROM conf GROUP BY 1
),
pm AS (
  SELECT predicted AS class, CAST(SUM(n) AS BIGINT) AS col_n
  FROM conf GROUP BY 1
),
cells2 AS (
  SELECT tm.class, tp,
         CAST(COALESCE(col_n, 0) - tp AS BIGINT) AS fp,
         CAST(row_n - tp AS BIGINT) AS fn
  FROM tm LEFT JOIN pm ON tm.class = pm.class
),
sc AS (
  SELECT class, tp, fp, fn,
    CASE WHEN tp + fp > 0
         THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
      AS "precision",
    CASE WHEN tp + fn > 0
         THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END
      AS recall
  FROM cells2
),
f AS (
  SELECT *, CASE WHEN "precision" IS NOT NULL AND recall IS NOT NULL
                  AND "precision" + recall > 0
            THEN 2 * "precision" * recall / ("precision" + recall) END AS f1
  FROM sc
),
m AS (
  SELECT CAST(COALESCE(SUM(CAST(ROUND(f1 * 1e9) AS BIGINT)), 0) AS BIGINT)
           AS s,
         CAST(COALESCE(SUM(CASE WHEN f1 IS NOT NULL THEN 1 END), 0)
              AS BIGINT) AS ndef,
         CAST(COALESCE(SUM(CASE WHEN f1 IS NULL THEN 1 END), 0) AS BIGINT)
           AS n_undefined_f1
  FROM f
)
SELECT class, tp, fp, fn, "precision", recall, f1,
  CASE WHEN ndef > 0
       THEN CAST(s AS DOUBLE) / (1e9 * CAST(ndef AS DOUBLE)) END AS macro_f1,
  n_undefined_f1
FROM f CROSS JOIN m ORDER BY class
""".format(ctes=_NB_CTES)


@_q("nb_class_f1", _NB_F1_ORACLE)
def nb_class_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the NB source classifier
    (`quality.per_class_prf` over the same held-out confusion cells as
    `nb_source_confusion`) — the class-level readout a single accuracy
    hides; macro-F1 as an integer sum of nano-fixed per-class values,
    undefined-precision classes reported NULL, never 0-faked."""
    from ..operators import nbayes as NB
    from ..operators import quality as Q
    from ..operators import sampling as SA

    docs = load(spark, sf_dir, "documents")
    split = docs.withColumn(
        "__is_test", (SA.hash_bucket16("doc_id", "nb") % 4) == 0
    )
    train = split.where(~F.col("__is_test"))
    test = split.where(F.col("__is_test"))
    model, classes = NB.nb_fit(train, "source", "text")
    pred = NB.nb_classify(test, "doc_id", "text", model, classes)
    conf = (
        pred.join(test.select("doc_id", "source"), "doc_id")
        .groupBy("source", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return Q.per_class_prf(conf, "source", "predicted", "n")


# ---------------------------------------------------------------------------
# McNemar's paired-classifier test (quality.mcnemar_test): marker
# classifier vs the modal-language baseline on the SAME documents —
# only the discordant items carry signal; comparing two accuracies
# with a two-proportion z would ignore the pairing.
# ---------------------------------------------------------------------------

def _mcnemar_oracle() -> str:
    inner = _lang_id_oracle()
    return f"""
WITH per_doc AS ({inner}),
base AS (
  SELECT lang AS modal_lang FROM per_doc
  GROUP BY lang ORDER BY COUNT(*) DESC, lang ASC LIMIT 1
),
flags AS (
  -- NULL-flag items excluded, matching mcnemar_test's contract: a
  -- NULL lang would make both comparisons NULL, not false
  SELECT CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END AS ca,
         CASE WHEN modal_lang = lang THEN 1 ELSE 0 END AS cb
  FROM per_doc CROSS JOIN base
  WHERE predicted_lang IS NOT NULL AND lang IS NOT NULL
    AND modal_lang IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
  CAST(SUM(CASE WHEN ca = 1 AND cb = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_both_right,
  CAST(SUM(CASE WHEN ca = 0 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_both_wrong,
  CAST(SUM(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_a_only,
  CAST(SUM(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_b_only,
  CASE WHEN SUM(CASE WHEN ca <> cb THEN 1 ELSE 0 END) > 0 THEN
    (CAST(SUM(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END) AS DOUBLE)
     - SUM(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END))
    * (CAST(SUM(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END) AS DOUBLE)
       - SUM(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END))
    / (CAST(SUM(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END) AS DOUBLE)
       + SUM(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END))
  END AS chi2
FROM flags
"""


@_q("mcnemar_lang_baseline", _mcnemar_oracle())
def mcnemar_lang_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the marker classifier beat the modal-language baseline
    SIGNIFICANTLY? McNemar on the paired per-document correctness
    (`quality.mcnemar_test`): b/c discordant counts are exact BIGINTs
    from one agg; chi² is one IEEE expression; the modal baseline is a
    1-row broadcast (count-desc, lang-asc tie) so both classifiers
    score in the same scan."""
    from ..operators import quality as Q

    scored = lang_id(spark, sf_dir)
    modal = (
        scored.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(
            F.expr("min_by(lang, struct(-__n, lang))").alias("modal_lang")
        )
    )
    flags = scored.crossJoin(F.broadcast(modal))
    return Q.mcnemar_test(
        flags,
        F.col("predicted_lang") == F.col("lang"),
        F.col("modal_lang") == F.col("lang"),
    )


# ---------------------------------------------------------------------------
# Streaming top-k monitor — stored heavy-hitter summaries oracled
# (streaming/topk.py)
# ---------------------------------------------------------------------------

_TOPK_FLOOR = 10
_TOPK_K = 15
_TOPK_CUT = "2024-01-16 00:00:00"


def topk_store_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming top-k monitor's summary store as a committed
    fixture: batch-partitioned (item, n, is_spill, batch_id) parquet
    built by a deterministic ingest — batch 0 = events before the cut,
    batch 0 REPLAYED (exercising the per-epoch overwrite),
    batch 1 = the rest; per batch, exact per-user counts at n ≥ floor
    plus one spill row of the below-floor mass. The probe's SQL twin
    recomputes the same summaries from the raw events, so a lost,
    duplicated, or double-counted batch hash-mismatches immediately
    (the drift_store posture)."""
    from ..streaming import heavyhitters as TK

    def build(target: str) -> None:
        ev = load(spark, sf_dir, "events")
        cut = F.lit(_TOPK_CUT).cast("timestamp")
        TK.topk_ingest_batch(
            ev.where(F.col("ts") < cut), target, 0, "user_id", _TOPK_FLOOR
        )
        TK.topk_ingest_batch(
            ev.where(F.col("ts") < cut), target, 0, "user_id", _TOPK_FLOOR
        )
        TK.topk_ingest_batch(
            ev.where(F.col("ts") >= cut), target, 1, "user_id", _TOPK_FLOOR
        )

    return _store_fixture(spark, sf_dir, "topk_store", build)


_TOPK_PROBE_ORACLE = f"""
WITH b AS (
  SELECT CAST(user_id AS VARCHAR) AS item,
         CASE WHEN ts >= TIMESTAMP '{_TOPK_CUT}' THEN 1 ELSE 0 END AS bid
  FROM events WHERE user_id IS NOT NULL
),
cells AS (
  SELECT bid, item, CAST(COUNT(*) AS BIGINT) AS n
  FROM b GROUP BY 1, 2
),
kept AS (SELECT * FROM cells WHERE n >= {_TOPK_FLOOR}),
items AS (
  SELECT item, CAST(SUM(n) AS BIGINT) AS lower_bound,
         CAST(COUNT(*) AS BIGINT) AS batches_present
  FROM kept GROUP BY item
)
SELECT item, lower_bound,
       CAST(lower_bound + {_TOPK_FLOOR - 1} * (2 - batches_present)
            AS BIGINT) AS upper_bound,
       batches_present, CAST(2 AS BIGINT) AS n_batches
FROM items
ORDER BY lower_bound DESC, item ASC
LIMIT {_TOPK_K}
"""


@_q("stream_topk_probe", _TOPK_PROBE_ORACLE)
def stream_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global heavy hitters WITH ERROR BOUNDS read from the
    STREAMING-MAINTAINED summary store (`streaming/heavyhitters.topk_from_store`
    over the committed two-batch fixture): per item, its true total
    lies in [lower, lower + (floor−1)·batches_absent] — the report
    says exactly what the floor cost. Verifies both the maintained
    state (replay/loss shifts the stored summaries and hash-mismatches
    the from-raw-events twin) and the from-store bound math; the
    monitor never re-scans history."""
    from ..streaming import heavyhitters as TK

    store = topk_store_fixture(spark, sf_dir)
    return TK.topk_from_store(store, k=_TOPK_K, floor=_TOPK_FLOOR)


# ---------------------------------------------------------------------------
# Prefix-filtered binary set-COSINE join (AllPairs): the oracle is the
# plain all-shingle formulation, so a hash match proves the t²-overlap
# prefix candidate generation is lossless (the dedup_jaccard_prefix
# posture for the size-ratio-tolerant score).
# ---------------------------------------------------------------------------

_SET_COSINE_ORACLE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE)
         / sqrt(CAST(sa.n_sh AS DOUBLE) * sb.n_sh) AS cosine
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / sqrt(CAST(sa.n_sh AS DOUBLE) * sb.n_sh)
      >= 0.6
"""


@_q("dedup_set_cosine_prefix", _SET_COSINE_ORACLE)
def dedup_set_cosine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary set-cosine ≥ 0.6 near-dup pairs via lossless prefix
    filtering (`dedup.cosine_pairs_prefix`): the size-ratio-tolerant
    symmetric score beside the Jaccard kernel — a doc embedded in a
    double-length copy keeps cos ≈ 0.7 where Jaccard drops to ~0.5.
    The oracle is the exact all-shingle join, so the hash match IS the
    losslessness proof of the t²-overlap prefix bound."""
    docs = load(spark, sf_dir, "documents")
    return D.cosine_pairs_prefix(docs, "doc_id", "text", threshold=0.6)


# ---------------------------------------------------------------------------
# Per-category specific agreement over the same 3-rater language data
# as krippendorff_lang (quality.specific_agreement): the category-level
# readout the single alpha hides.
# ---------------------------------------------------------------------------

def _specific_agreement_oracle() -> str:
    hit_cols, prev_b = _lang_argmax_fold_sql()
    return f"""
WITH h AS (
  SELECT doc_id, lang, n_chars,
  {hit_cols}
  FROM documents
),
pred AS (
  SELECT doc_id, lang, n_chars, {prev_b} AS p FROM h
),
ratings AS (
  SELECT doc_id, 'label' AS rater, lang AS val FROM pred
  UNION ALL
  SELECT doc_id, 'markers' AS rater, p AS val FROM pred
  UNION ALL
  SELECT doc_id, 'sparse' AS rater, p AS val FROM pred WHERE n_chars >= 400
),
v AS (SELECT doc_id, rater, val FROM ratings WHERE val IS NOT NULL),
m AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY 1),
p AS (
  SELECT r.doc_id, r.rater, r.val, m.m
  FROM v r JOIN m ON r.doc_id = m.doc_id
  WHERE m.m >= 2
),
nc AS (SELECT val, CAST(COUNT(*) AS BIGINT) AS n_ratings FROM p GROUP BY 1),
-- L = lcm(1..R-1) = 2 for the R = 3 raters here
occ AS (
  SELECT a.val, CAST(COALESCE(SUM(2 // (a.m - 1)), 0) AS BIGINT) AS occ_l
  FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.rater <> b.rater
  WHERE a.val = b.val
  GROUP BY a.val
)
SELECT nc.val, nc.n_ratings,
       CAST(COALESCE(occ_l, 0) AS DOUBLE)
         / (2.0 * CAST(n_ratings AS DOUBLE)) AS agreement
FROM nc LEFT JOIN occ ON nc.val = occ.val
ORDER BY nc.val
"""


@_q("lang_specific_agreement", _specific_agreement_oracle())
def lang_specific_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language specific agreement across the same three raters as
    `krippendorff_lang` (`quality.specific_agreement`): alpha says HOW
    reliable the labels are overall; this says WHERE they disagree —
    the 2×2 positive-agreement formula generalized to many raters with
    missing data, exact-integer coincidence mass, one IEEE division
    per category."""
    from ..operators import quality as Q

    pred = TX.lang_scores(load(spark, sf_dir, "documents"), "text").select(
        "doc_id", "lang", "n_chars", "predicted_lang"
    )
    ratings = (
        pred.select(
            "doc_id",
            F.lit("label").alias("rater"),
            F.col("lang").alias("val"),
        )
        .unionByName(
            pred.select(
                "doc_id",
                F.lit("markers").alias("rater"),
                F.col("predicted_lang").alias("val"),
            )
        )
        .unionByName(
            pred.where(F.col("n_chars") >= 400).select(
                "doc_id",
                F.lit("sparse").alias("rater"),
                F.col("predicted_lang").alias("val"),
            )
        )
    )
    return Q.specific_agreement(ratings, "doc_id", "rater", "val")
